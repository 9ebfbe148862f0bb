package graft.textops

import graft.Tables
import graft.streaming.BlockHygiene
import graft.textops.TextHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines, over `documents`.
  *
  * Four tiers, all deterministic and DuckDB-oracled:
  *   - exact: hash-groupBy on full text
  *   - MinHash+LSH: shingle → K minhashes → banded bucket-join — the
  *     classic near-dup pipeline (Broder '97); candidate generation is
  *     an equi-join on (band, hash), NEVER an O(n²) cross join, so the
  *     plan scales: at 100 TB the band join shuffles each doc's 4 band
  *     rows, not n² pairs.
  *   - SimHash: 60-bit weighted-bit fingerprint + pigeonhole 15-bit
  *     block candidate join (hamming ≤ 3 ⇒ some block equal ⇒ exact,
  *     not approximate, candidate recall).
  *   - n-gram Jaccard: inverted-index equi-join on shingle strings with
  *     exact set-overlap arithmetic.
  *
  * The reference has no dedup surface; its nearest analog is the
  * UvWithBloom membership sketch (REF: NetworkFlowAnalysis/…/
  * UvWithBloom.scala § Bloom — reconstructed, SURVEY.md §0); these are
  * the LLM-pipeline generalization the build brief calls for.
  */
object Dedup {

  /** ngramJaccard verify-join broadcast flip point (docs). The doc→
    * shingle-id encoding is ~1.2 KB/doc, so 20k docs ≈ 25 MB — about
    * where a broadcast stops being the obvious win over a shuffled
    * equi-join on doc id. */
  private[graft] val BroadcastVerifyMaxDocs = 20000L

  /** The same broadcast↔shuffle flip for the ANN tiers that rank on ids
    * and re-attach full vectors only for surviving pairs (SRP-LSH,
    * SQ8): below this many vectors both re-attach joins broadcast the
    * `(vec_id, v, nrm)` table (a 64-double vector ≈ 0.5 KB, so 100k
    * vectors ≈ 50 MB); past it they become shuffled equi-joins on the
    * id. */
  private[graft] val BroadcastReattachMaxVecs = 100000L

  /** Document corpus size — parquet metadata count, one cheap job. */
  private def nDocs(spark: SparkSession, sfDir: String): Long =
    Tables.documents(spark, sfDir).count()

  /** Scale-adaptive df cap for [[dedupSubstring]]: "boilerplate" is a
    * corpus-relative notion — a fingerprint in 0.2 % of documents is
    * template noise whether the corpus has 5 k or 50 M docs, while an
    * absolute cap silently strangles recall as the corpus grows.
    * Resolves to the oracle constant (10) at the correctness tiers
    * (500 docs at sf0.01 AND 5 000 at sf0.1 — 0.2 % ≤ 10 for both), so
    * the hash gate is untouched; the sf1 tier (50 k docs) gets 100.
    */
  private[graft] def autoMaxDf(n: Long): Int =
    math.max(10, math.ceil(n * 0.002).toInt)

  /** [[autoMaxDf]] as a DuckDB scalar subquery — oracles that replay a
    * capped pipeline derive the cap from the corpus they run on, so
    * oracle parity is defined at EVERY scale factor (no tier-coupled
    * constant; same structural fix as the similarity-oracle geometry).
    */
  private val autoMaxDfDuck: String =
    "(SELECT greatest(10, CAST(ceil(0.002 * count(*)) AS INT)) FROM documents)"

  /** Exact dedup: one row per distinct text, keeper = min doc_id. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy($"text")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select($"keep_id", $"dup_cnt")
      .orderBy($"keep_id")
  }

  val dedupExactOracle: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- minhash

  private val SH = ShingleMult // shingle-combine multiplier

  /** Signature agreement of band rows `x` and `y`: the fraction of
    * the K minhash components that match — the unbiased Jaccard
    * estimate. Cast BEFORE dividing: int / 8.0 is DECIMAL division in
    * Spark (literal 8.0 is DECIMAL(2,1) → DECIMAL(17,6) result) while
    * the DuckDB oracle emits DOUBLE — the driver's hash gate sees
    * types. */
  private val sigAgreeSpark: String = {
    val matches = (0 until K)
      .map(j => s"(case when x.s$j = y.s$j then 1 else 0 end)").mkString(" + ")
    s"cast(($matches) as double) / $K"
  }

  /** Near-dup pairs via banded MinHash LSH (bands of 2, K/2 bands),
    * estimated Jaccard = matching-signature fraction ≥ threshold.
    * Signatures ride along the band explode so the pair join compares
    * them in place — no join-back, and the signature subtree is
    * evaluated once per side instead of 6×.
    */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    minhashLshPairs(spark, sfDir).orderBy($"doc1", $"doc2")
  }

  /** [[minhashLsh]] WITHOUT the presentation sort — for consumers that
    * immediately re-shuffle (cluster closure, error join): the ordered
    * form's rangepartitioning exchange + sort is pure waste below a
    * union/distinct/join (round 17, guide §2.4 — same split the
    * embedding family made with `embeddingCappedPairs`). */
  private[textops] def minhashLshPairs(spark: SparkSession,
                                       sfDir: String): DataFrame =
    minhashPairsOf(minhashBandRows(spark, sfDir))

  /** LSH bucket rows `(s0..s{K-1}, doc_id, band_idx, band_hash)` of the
    * corpus — the relation both the exact and bucket-capped pair tiers
    * expand. */
  private def minhashBandRows(spark: SparkSession, sfDir: String): DataFrame =
    minhashBucketsFrom(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** Pairwise bucket expansion + signature-agreement estimate ≥ 0.5
    * over band rows — the tail both pair tiers share. */
  private def minhashPairsOf(bands: DataFrame): DataFrame = {
    import bands.sparkSession.implicits._
    bands.as("x")
      .join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .selectExpr("x.doc_id as doc1", "y.doc_id as doc2",
        s"$sigAgreeSpark as sim")
      .distinct()
      .where($"sim" >= 0.5)
  }

  /** Bucket-capped MinHash LSH pairs — the skew-robust evidence tier:
    * `(band_idx, band_hash)` buckets holding more than `maxDf` docs are
    * dropped BEFORE the pairwise expansion (one agg-only window over
    * the band rows — parallel by bucket, and the buckets that get big
    * are exactly the ones being deleted). A pair is missed only when
    * EVERY band the two docs agree on is globally hot — i.e. the pair's
    * entire estimated similarity comes from corpus-wide boilerplate.
    * Same corpus-relative cap rule as the substring/ngram tiers
    * ([[autoMaxDf]]): at the correctness tiers no bucket reaches the
    * cap, so output is bit-identical to [[minhashLsh]]; on the sf1 skew
    * tier the ~10 k-doc boilerplate buckets (10⁸ pairs per band) leave
    * the join. Every surviving pair's `sim` is computed from the full
    * signatures, unchanged.
    */
  def minhashLshCapped(spark: SparkSession, sfDir: String,
                       maxDf: Int = -1): DataFrame = {
    import spark.implicits._
    minhashLshCappedPairs(spark, sfDir, maxDf).orderBy($"doc1", $"doc2")
  }

  /** [[minhashLshCapped]] without the presentation sort — see
    * [[minhashLshPairs]]. */
  private[textops] def minhashLshCappedPairs(spark: SparkSession,
                                             sfDir: String,
                                             maxDf: Int = -1): DataFrame = {
    val cap = if (maxDf > 0) maxDf else autoMaxDf(nDocs(spark, sfDir))
    // agg-only window (no localCheckpoint: ReusedExchange already
    // shares the occupancy pass across the self-join sides — a
    // checkpoint measured no win at sf1)
    val w = Window.partitionBy(col("band_idx"), col("band_hash"))
    val kept = minhashBandRows(spark, sfDir)
      .withColumn("occ", count(lit(1)).over(w))
      .where(col("occ") <= cap).drop("occ")
    minhashPairsOf(kept)
  }

  /** DuckDB CTE chain ending in `sig(doc_id, s0..s{K-1})` — the shared
    * MinHash signature build ([[minhashPairsCtes]] and the incremental
    * oracle both extend it).
    */
  private lazy val minhashSigCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), th AS (
       |  SELECT doc_id, list_transform(tokens, tk -> ${phDuck("tk", "h")}) AS tharr
       |  FROM toks WHERE len(tokens) >= 3
       |), sh AS (
       |  SELECT doc_id, list_transform(range(0, len(tharr) - 2), sj ->
       |    ((tharr[sj + 1] * $SH + tharr[sj + 2]) % $P
       |     * $SH + tharr[sj + 3]) % $P) AS sh FROM th
       |), sig AS (
       |  SELECT doc_id, $sigColsDuck FROM sh
       |)""".stripMargin

  /** DuckDB twin of `minhash_sig`: the K signature columns over a
    * shingle-hash list `sh`. */
  private lazy val sigColsDuck: String = (0 until K).map(j =>
    s"list_min(list_transform(sh, v$j -> (v$j * ${MinhashA(j)} + ${MinhashB(j)}) % $P)) AS s$j")
    .mkString(",\n         ")

  /** DuckDB twin of [[minhashBucketsFrom]]'s band explode: the K/2
    * band rows `(doc_id, band_idx, band_hash)` of the signature
    * relation `sig`, as UNION ALL arms. */
  private def bandSelectsDuck(sig: String): String = (0 until K / 2).map(b =>
    s"SELECT doc_id, $b AS band_idx, (s${2 * b} * $SH + s${2 * b + 1}) % $P AS band_hash FROM $sig")
    .mkString("\n  UNION ALL ")

  /** DuckDB twin of [[sigAgreeSpark]] over signature rows `a`, `b`. */
  private lazy val sigAgreeDuck: String = {
    val matches = (0 until K)
      .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"CAST(($matches) AS DOUBLE) / $K"
  }

  /** `name(doc1, doc2)`: the distinct band-bucket collisions of the
    * band relation `bands`. */
  private def bandPairsCte(name: String, bands: String): String =
    s"""$name AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM $bands x JOIN $bands y ON x.band_idx = y.band_idx
       |    AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
       |)""".stripMargin

  /** `name(doc1, doc2, sim)`: the candidate pairs `cand` verified at
    * signature agreement ≥ 0.5. */
  private def simPairsCte(name: String, cand: String): String =
    s"""$name AS (
       |  SELECT p.doc1, p.doc2, $sigAgreeDuck AS sim
       |  FROM $cand p JOIN sig a ON p.doc1 = a.doc_id JOIN sig b ON p.doc2 = b.doc_id
       |  WHERE $sigAgreeDuck >= 0.5
       |)""".stripMargin

  /** Shared DuckDB CTE chain ending in `simpairs(doc1, doc2, sim)` —
    * the minhash near-dup pairs at sim ≥ 0.5. Used by both the pair
    * query's oracle and the connected-components clusters oracle.
    */
  private lazy val minhashPairsCtes: String =
    s"""$minhashSigCtes, bands AS (
       |  ${bandSelectsDuck("sig")}
       |), ${bandPairsCte("lshpairs", "bands")}, """.stripMargin +
      simPairsCte("simpairs", "lshpairs")

  val minhashLshOracle: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc1, doc2, sim FROM simpairs ORDER BY doc1, doc2""".stripMargin

  /** Estimator-accuracy gate for the MinHash tier — the dedup-side
    * analog of `similarity_recall`: per LSH candidate pair, the
    * signature-agreement Jaccard estimate ([[minhashLsh]]'s `sim`,
    * matching components / K — the unbiased MinHash estimator) against
    * the EXACT shingle-set Jaccard, plus the absolute error a K = 8
    * sketch incurs. This is the number a user tunes K against; without
    * it the tier's precision is an article of faith.
    *
    * Scale shape: the pair set is the already-bucketed LSH candidates;
    * exact sets join in by doc id with the same broadcast↔shuffle flip
    * as the ngram-Jaccard verify; the intersect is the native
    * two-pointer merge.
    */
  def minhashError(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // unordered core: the error join re-shuffles by doc id and the
    // query re-sorts at the end — the inner sort was discarded work
    val pairs = minhashLshPairs(spark, sfDir)
      .select($"doc1", $"doc2", $"sim".as("j_est"))
    // sorted_intersect_count is an INT-array two-pointer merge; shingle
    // hashes are < P ≈ 1e9 so the narrowing cast is exact
    val sets = Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        "array_sort(array_distinct(transform(shingle_hashes(text), sx -> cast(sx as int)))) as ds")
      .where("size(ds) >= 1")
      .transform(BlockHygiene.checkpointTracked)
    val small = sets.count() <= BroadcastVerifyMaxDocs
    val s1 = sets.selectExpr("doc_id as doc1", "ds as ds1")
    val s2 = sets.selectExpr("doc_id as doc2", "ds as ds2")
    pairs
      .join(if (small) broadcast(s1) else s1, "doc1")
      .join(if (small) broadcast(s2) else s2, "doc2")
      .selectExpr("doc1", "doc2", "j_est",
        "sorted_intersect_count(ds1, ds2) as ic",
        "size(ds1) as n1", "size(ds2) as n2")
      .selectExpr("doc1", "doc2", "j_est",
        "cast(ic as double) / (n1 + n2 - ic) as j_exact")
      .selectExpr("doc1", "doc2", "j_est", "j_exact",
        "abs(j_est - j_exact) as abs_err")
      .orderBy($"doc1", $"doc2")
  }

  val minhashErrorOracle: String =
    s"""WITH $minhashPairsCtes, dsh AS (
       |  SELECT doc_id, list_sort(list_distinct(sh)) AS ds FROM sh
       |), er AS (
       |  SELECT p.doc1, p.doc2, p.sim,
       |         len(list_filter(a.ds, ixm -> list_contains(b.ds, ixm))) AS ic,
       |         len(a.ds) AS n1, len(b.ds) AS n2
       |  FROM simpairs p
       |  JOIN dsh a ON p.doc1 = a.doc_id
       |  JOIN dsh b ON p.doc2 = b.doc_id
       |)
       |SELECT doc1, doc2, sim AS j_est,
       |       CAST(ic AS DOUBLE) / (n1 + n2 - ic) AS j_exact,
       |       abs(sim - CAST(ic AS DOUBLE) / (n1 + n2 - ic)) AS abs_err
       |FROM er ORDER BY doc1, doc2""".stripMargin

  // ------------------------------------------------- incremental dedup

  /** The "today's crawl" gate — which docs play the incoming batch in
    * the incremental-dedup replay (salted hash family, independent of
    * the split/rebalance gates). */
  private[textops] val IncrNewGate =
    "poly_hash37(concat(cast(doc_id as string), '-incr')) % 10 = 0"

  /** MinHash band-bucket rows `(s0..s{K-1}, doc_id, is_new, band_idx,
    * band_hash)` — signatures ride along the bucket rows so the ≥ 0.5
    * verify needs no join back to the signature table. This is the
    * relation [[graft.textops.Pipelines.materialize]] snapshots (base
    * side only) for the served probe path. */
  private[graft] def minhashBuckets(spark: SparkSession,
                                      sfDir: String): DataFrame =
    minhashBucketsFrom(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), expr(IncrNewGate).as("is_new")))

  /** MinHash band rows `(s0..s{K-1}, <carried>, band_idx, band_hash)`
    * of any `(doc_id, text, …)` frame — batch or streaming micro-batch
    * (every stage is a narrow map, so it runs wherever the docs frame
    * does). Every column but `text` is carried, the way [[docSpans]]
    * carries them. One native byte scan (shingle_hashes = tokenize →
    * poly31 → 3-gram combine, empty for <3-token docs, which drop
    * out) feeds the native one-pass K-minima (minhash_sig) — zero
    * interpreted HOF stages. */
  private[graft] def minhashBucketsFrom(docs: DataFrame): DataFrame = {
    val carry = docs.columns.filter(_ != "text").toIndexedSeq
    val sig = docs
      .selectExpr(carry :+ "shingle_hashes(text) as sh": _*)
      .where("size(sh) >= 1")
      .selectExpr(carry :+ "minhash_sig(sh) as sig": _*)
      .selectExpr(carry ++
        (0 until K).map(j => s"element_at(sig, ${j + 1}) as s$j"): _*)
    val bandArray = (0 until K / 2)
      .map(b => s"(s${2 * b} * $SH + s${2 * b + 1}) % $P")
      .mkString("array(", ", ", ")")
    sig.selectExpr((0 until K).map(j => s"s$j") ++ carry :+
      s"posexplode($bandArray) as (band_idx, band_hash)": _*)
  }

  /** The probe + verdict core shared by the live query and the
    * served-from-snapshot path: x (the judged batch) equi-joins y
    * (the already-ingested corpus view) on `keys`, verifies at sig
    * similarity ≥ 0.5, and reduces to one keep/dup verdict per
    * batch doc under keep-first. */
  private[graft] def incrementalVerdicts(
      spark: SparkSession, sfDir: String, xBands: DataFrame,
      yBands: DataFrame,
      keys: Seq[String] = Seq("band_idx", "band_hash"),
      judgedPred: String = IncrNewGate): DataFrame =
    incrementalVerdictsFrom(
      Tables.documents(spark, sfDir).where(expr(judgedPred)).select(col("doc_id")),
      xBands, yBands, keys)

  /** [[incrementalVerdicts]] with the judged-doc set passed as a frame
    * — the micro-batch streaming form supplies the batch itself. */
  private[graft] def incrementalVerdictsFrom(
      judged: DataFrame, xBands: DataFrame, yBands: DataFrame,
      keys: Seq[String] = Seq("band_idx", "band_hash")): DataFrame = {
    import judged.sparkSession.implicits._
    val matches = xBands.as("x")
      .join(yBands.as("y"),
        keys.map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
          col("x.doc_id") =!= col("y.doc_id") &&
          // judged doc x duplicates y only if y was already in the
          // corpus: base doc, or new doc that arrived earlier
          (!col("y.is_new") || col("y.doc_id") < col("x.doc_id")))
      .selectExpr("x.doc_id as doc_id", "y.doc_id as oid",
        s"$sigAgreeSpark as sim")
      .distinct()
      .where($"sim" >= 0.5)
    keepFirstVerdicts(judged, "doc_id", matches, "doc_id", "sim")
  }

  /** The keep-first verdict tail of both incremental dedup tiers (this
    * MinHash one and [[Similarity.dedupEmbeddingIncremental]]): one row
    * per `id` of `judged` — `keep` iff it has no match, plus the best
    * match (`score` DESC, `oid` ASC) as `dup_of` / `best_<score>` and
    * the match count `n_dups`. `matches` holds the verified
    * `(<matchId>, oid, <score>)` rows, `matchId` naming the judged
    * side's id there. */
  private[textops] def keepFirstVerdicts(judged: DataFrame, id: String,
                                         matches: DataFrame, matchId: String,
                                         score: String): DataFrame = {
    val w = Window.partitionBy(col(matchId))
    val best = matches
      .withColumn("rnk", row_number().over(
        w.orderBy(col(score).desc, col("oid").asc)))
      .withColumn("n_dups", count(lit(1)).over(w))
      .where(col("rnk") === 1)
      .select(col(matchId).as(id), col("oid").as("dup_of"),
        col(score).as(s"best_$score"), col("n_dups"))
    judged.select(col(id))
      .join(best, Seq(id), "left_outer")
      .selectExpr(id, "dup_of is null as keep",
        "cast(coalesce(n_dups, 0) as bigint) as n_dups",
        "dup_of", s"best_$score")
      .orderBy(col(id))
  }

  /** Incremental near-dup dedup — the rolling-corpus operator: judge a
    * NEW batch against the already-ingested base without recomputing
    * any base×base pair. A deterministic ~1-in-10 doc slice (salted
    * poly_hash37 gate, independent of the split/rebalance hashes)
    * plays the "today's crawl" batch; every new doc is kept unless its
    * MinHash band buckets collide with a base doc or an EARLIER new
    * doc (smaller doc_id) at signature similarity ≥ 0.5 — the
    * keep-first-occurrence rule, so a dup group arriving inside one
    * batch keeps exactly its first member, matching what a day-by-day
    * replay would have kept.
    *
    * Scale shape: candidates come from the band equi-join of the NEW
    * side's bucket rows against the full bucket table — cost
    * O(|batch| × bucket occupancy), never O(corpus²). At 100 TB the
    * base side's (band_idx, band_hash) buckets are exactly what
    * [[Pipelines.materialize]] snapshots: stored partitioned by band
    * hash, a daily batch probes only the partitions its own bands
    * touch. Docs too short to shingle (< 3 tokens) have no signature
    * and are kept by construction (left join), not dropped by
    * accident.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = BlockHygiene.checkpointTracked(minhashBuckets(spark, sfDir))
    incrementalVerdicts(spark, sfDir, bands.where($"is_new"), bands)
  }

  lazy val dedupIncrementalOracle: String =
    s"""WITH $minhashSigCtes, tagged AS (
       |  SELECT doc_id,
       |         ${phDuck("CAST(doc_id AS VARCHAR) || '-incr'", "inc", 37)} % 10 = 0
       |           AS is_new
       |  FROM documents
       |), bands AS (
       |  ${bandSelectsDuck("sig")}
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS oid
       |  FROM bands x
       |  JOIN tagged tx ON x.doc_id = tx.doc_id AND tx.is_new
       |  JOIN bands y ON x.band_idx = y.band_idx
       |    AND x.band_hash = y.band_hash AND x.doc_id <> y.doc_id
       |  JOIN tagged ty ON y.doc_id = ty.doc_id
       |    AND (NOT ty.is_new OR y.doc_id < x.doc_id)
       |), m AS (
       |  SELECT c.doc_id, c.oid, $sigAgreeDuck AS sim
       |  FROM cand c JOIN sig a ON c.doc_id = a.doc_id
       |              JOIN sig b ON c.oid = b.doc_id
       |  WHERE $sigAgreeDuck >= 0.5
       |), best AS (
       |  SELECT doc_id, oid AS dup_of, sim AS best_sim, n_dups FROM (
       |    SELECT doc_id, oid, sim,
       |           row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY sim DESC, oid ASC) AS rnk,
       |           count(*) OVER (PARTITION BY doc_id) AS n_dups
       |    FROM m
       |  ) WHERE rnk = 1
       |)
       |SELECT t.doc_id, b.dup_of IS NULL AS keep,
       |       CAST(COALESCE(b.n_dups, 0) AS BIGINT) AS n_dups,
       |       b.dup_of, b.best_sim
       |FROM tagged t LEFT JOIN best b ON t.doc_id = b.doc_id
       |WHERE t.is_new ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------- span-level dedup

  /** Explode `(doc_id, text, …)` docs to one row per non-overlapping
    * `span`-token window: (carry cols…, doc_id, span_idx, span_text). */
  private[graft] def docSpans(docs: DataFrame, span: Int): DataFrame =
    docs.selectExpr((docs.columns.filter(_ != "text") :+ "split(text, ' ') as toks").toIndexedSeq: _*)
      .selectExpr((docs.columns.filter(_ != "text") :+
        s"""posexplode(transform(
           |  sequence(0, cast(ceil(size(toks) / ${span}.0) as int) - 1),
           |  si -> array_join(slice(toks, si * $span + 1, $span), ' ')))
           |  as (span_idx, span_text)""".stripMargin).toIndexedSeq: _*)

  /** Reassemble per-doc cleaned text from span rows carrying a `keep`
    * flag: (doc_id, clean_text, n_spans, n_dropped), ordered. */
  private def reassembleSpans(flagged: DataFrame): DataFrame = {
    import flagged.sparkSession.implicits._
    flagged
      .groupBy($"doc_id")
      .agg(
        // collect_list skips the nulls the case-when leaves for
        // dropped spans; the struct sort restores document order
        array_join(expr(
          """transform(array_sort(collect_list(
            |  case when keep then struct(span_idx, span_text) end)),
            |  s -> s.span_text)""".stripMargin), " ").as("clean_text"),
        count(lit(1)).as("n_spans"),
        sum(when($"keep", 0L).otherwise(1L)).as("n_dropped"))
      .select($"doc_id", $"clean_text", $"n_spans", $"n_dropped")
      .orderBy($"doc_id")
  }

  /** Corpus-wide SPAN dedup with document reassembly — the C4/CCNet
    * sub-document stage doc-level dedup can't express: C4 discards any
    * three-sentence span seen before anywhere in the corpus and keeps
    * the REST of the document (Raffel et al. '20 §2.2; CCNet does the
    * same at paragraph grain). Here the unit is a fixed `span`-token
    * window (the synthetic corpus has no sentence boundaries), split
    * non-overlapping per doc; the FIRST occurrence corpus-wide (min
    * (doc_id, span_idx)) survives, later copies are dropped, and each
    * doc re-joins its kept spans in order. Output per doc: the cleaned
    * text, total spans, spans dropped.
    *
    * Scale shape: explode to spans is narrow (tokens/span rows); the
    * keep-first verdict is ONE rank window hash-partitioned by span
    * text — the same shuffle an exact-dedup groupBy pays, never a
    * pairwise join; reassembly is one per-doc aggregate. A corpus-wide
    * boilerplate span is exactly ONE hot group in the rank window —
    * agg-only, no expansion, so the operator is skew-immune by shape
    * (the window state per group is O(1); contrast the pair tiers,
    * which need the df caps above).
    */
  def spanDedup(spark: SparkSession, sfDir: String, span: Int = 20): DataFrame = {
    import spark.implicits._
    val spans = docSpans(
      Tables.documents(spark, sfDir).select($"doc_id", $"text"), span)
    reassembleSpans(spans.withColumn("keep", row_number().over(
      Window.partitionBy($"span_text")
        .orderBy($"doc_id", $"span_idx")) === 1))
  }

  /** Incremental span dedup — the rolling-corpus form of [[spanDedup]]
    * (same arrival convention as [[dedupIncremental]]): the 1-in-10
    * IncrNewGate slice plays "today's batch"; a new doc's span is kept
    * iff its text never occurred in the base corpus AND no earlier
    * batch span (smaller (doc_id, span_idx)) has it. Under doc_id =
    * arrival order this reproduces exactly what a day-by-day
    * [[spanDedup]] replay would keep — the property the streaming form
    * ([[graft.textops.Pipelines.spanDedupStream]]) pins in its spec.
    *
    * Scale shape: the base side reduces to DISTINCT span texts (the
    * stored `span_index` snapshot in production); the batch probes it
    * with one hash equi-join — |batch|-proportional, the base is never
    * rescanned per doc — plus the same one rank window batch-side.
    */
  def spanDedupIncremental(spark: SparkSession, sfDir: String,
                           span: Int = 20): DataFrame = {
    import spark.implicits._
    val tagged = docSpans(
      Tables.documents(spark, sfDir)
        .select($"doc_id", $"text", expr(IncrNewGate).as("is_new")), span)
    spanVerdicts(tagged.where($"is_new").drop("is_new"),
      tagged.where(!$"is_new").select($"span_text"))
  }

  /** Judge batch spans against a base span-text relation (need not be
    * distinct — the probe is null-safe via a distinct'd join side) and
    * reassemble. Shared by the live query and the served/streaming
    * forms. */
  private[graft] def spanVerdicts(newSpans: DataFrame,
                                  baseSpanTexts: DataFrame): DataFrame = {
    import newSpans.sparkSession.implicits._
    val base = baseSpanTexts.select($"span_text").distinct()
      .withColumn("in_base", lit(true))
    reassembleSpans(newSpans
      .withColumn("first_in_batch", row_number().over(
        Window.partitionBy($"span_text")
          .orderBy($"doc_id", $"span_idx")) === 1)
      .join(base, Seq("span_text"), "left")
      .withColumn("keep", $"first_in_batch" && $"in_base".isNull)
      .drop("first_in_batch", "in_base"))
  }

  /** DuckDB replay of [[spanDedup]] — same split/keep-first/reassemble
    * pipeline; `list(...) FILTER` mirrors collect_list's null-skip. */
  def spanDedupOracle(span: Int = 20): String =
    s"""WITH stoks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), sspans AS (
       |  SELECT doc_id, CAST(si AS INT) AS span_idx,
       |         array_to_string(toks[CAST(si * $span + 1 AS BIGINT) :
       |                              CAST(si * $span + $span AS BIGINT)], ' ')
       |           AS span_text
       |  FROM (SELECT doc_id, toks,
       |               unnest(range(CAST(ceil(len(toks) / ${span}.0) AS BIGINT))) AS si
       |        FROM stoks)
       |), skeep AS (
       |  SELECT doc_id, span_idx, span_text,
       |         row_number() OVER (PARTITION BY span_text
       |                            ORDER BY doc_id, span_idx) = 1 AS keep
       |  FROM sspans
       |)
       |SELECT doc_id,
       |       COALESCE(array_to_string(
       |         list(span_text ORDER BY span_idx) FILTER (WHERE keep), ' '),
       |         '') AS clean_text,
       |       count(*) AS n_spans,
       |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
       |FROM skeep GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[spanDedupIncremental]]: base = distinct span
    * texts of the non-gated docs; keep = first-in-batch AND not in
    * base; same reassembly. */
  def spanDedupIncrementalOracle(span: Int = 20): String =
    s"""WITH stoks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |         ${phDuck("CAST(doc_id AS VARCHAR) || '-incr'", "inc", 37)} % 10 = 0
       |           AS is_new
       |  FROM documents
       |), sspans AS (
       |  SELECT doc_id, is_new, CAST(si AS INT) AS span_idx,
       |         array_to_string(toks[CAST(si * $span + 1 AS BIGINT) :
       |                              CAST(si * $span + $span AS BIGINT)], ' ')
       |           AS span_text
       |  FROM (SELECT doc_id, is_new, toks,
       |               unnest(range(CAST(ceil(len(toks) / ${span}.0) AS BIGINT))) AS si
       |        FROM stoks)
       |), basespans AS (
       |  SELECT DISTINCT span_text FROM sspans WHERE NOT is_new
       |), skeep AS (
       |  SELECT n.doc_id, n.span_idx, n.span_text,
       |         (row_number() OVER (PARTITION BY n.span_text
       |                             ORDER BY n.doc_id, n.span_idx) = 1
       |          AND b.span_text IS NULL) AS keep
       |  FROM (SELECT * FROM sspans WHERE is_new) n
       |  LEFT JOIN basespans b ON n.span_text = b.span_text
       |)
       |SELECT doc_id,
       |       COALESCE(array_to_string(
       |         list(span_text ORDER BY span_idx) FILTER (WHERE keep), ' '),
       |         '') AS clean_text,
       |       count(*) AS n_spans,
       |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
       |FROM skeep GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- near-dup clustering

  /** Reusable connected components over an arbitrary undirected pair
    * graph — the general operator [[dedupClusters]] instantiates.
    * `nodes` must have a numeric `id` column; `pairs` columns `(a, b)`
    * reference node ids. Returns `(id, component)` where component =
    * min node id reachable.
    *
    * Algorithm: hash-min label propagation with pointer jumping. Every
    * node starts labelled with its own id; each round every node takes
    * the min label among itself, its neighbors, and its label's label
    * (path halving). Each round is one equi-join + partial-agg shuffle
    * over the EDGE list (never all-pairs) plus a small label self-join,
    * and the jump bounds the round count at ~log(diameter). At extreme
    * scale the same loop upgrades to large-star/small-star (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"); the
    * per-round plan shape (join + min-agg) is identical.
    *
    * Convergence test: labels only ever decrease, so Σ labels strictly
    * decreases on any change — one cheap agg per round instead of a
    * change-count join. (Σ stays within Int64 up to ~1e9 nodes; past
    * that switch the test to a changed-row count.)
    *
    * MEMORY SIZING (the sf10emb cliff, measured): the loop's working
    * set is proportional to the EDGE count, not the node count — each
    * round shuffles the full pair list plus the label table, and the
    * per-round checkpoint pins one edge-sized RDD. Size executor+driver
    * heap at roughly `edges × 48 B × 3` (pair row + label join + one
    * pinned round) before spill sets in. On the degenerate clustered
    * ×100 tier (93.6 M capped edges) the closure ran 449 s spill-bound
    * at 16 g and 133–144 s at 48 g — a 3.3× recovery from memory alone,
    * no plan change (BASELINE "48 g recovery"). When the caller caps
    * its pair evidence (the `*_capped` tiers), the cap ceiling
    * C·capA·capP bounds this formula a priori; an UNCAPPED pair graph
    * makes the loop's memory unboundable by construction.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // symmetric edge list, materialized once — it is re-joined every round
    val edges = pairs.toDF("a", "b")
    val sym = edges.select($"a".as("src"), $"b".as("dst"))
      .union(edges.select($"b".as("src"), $"a".as("dst")))
      .transform(BlockHygiene.checkpointTracked)
    // Isolated nodes (no edge) can never change label — keep them out
    // of the loop entirely and attach them at the end. In a dedup
    // corpus the near-dup graph touches a small fraction of documents,
    // so every round's join/agg/checkpoint runs over |V(E)| rows, not
    // |V|: at 100 TB that is the difference between iterating over
    // the whole corpus and iterating over the dup subgraph. One
    // groupBy over the edge list (pairs reference node ids by
    // contract) both derives the active set AND runs the first
    // hash-min adoption in the same shuffle:
    // label₀ = min(id, min neighbor id) — the neighbor's initial label
    // is its own id, so no join against a label table is needed yet.
    val allNodes = nodes.toDF("id")
    // init checkpoint + round-0 labelSum in ONE materialization pass
    // (round 17 — same fold as the loop rounds below; an empty graph
    // folds to 0, which converges immediately, matching the old
    // null-guarded sum)
    val (labelsInit, initSum) = org.apache.spark.sql.execution.GraftCheckpoint
      .localCheckpointFreshStatsWithLongSum(
        sym.groupBy($"src").agg(min($"dst").as("m"))
          .select($"src".as("id"), least($"src", $"m").as("label")),
        1)
    var labels = labelsInit
    val isolated = allNodes.join(labels.select($"id"), Seq("id"), "left_anti")
    var prevSum = initSum
    // the round-0 labels checkpoint is ALSO read by `isolated` at the
    // very end — it must stay pinned; every later round's checkpoint
    // is dead the moment its successor materializes
    val labels0 = labels
    var converged = false
    // one propagation: adopt the min neighbor label, then pointer-jump
    // (path halving — also adopt label(label)); the jump cuts the
    // round count from the component diameter to ~log(diameter), and
    // on chained near-dup graphs the fixed per-job overhead (not data
    // volume) is the dominant cost
    def step(cur: DataFrame): DataFrame = {
      val nbrMin = sym
        .join(cur.select($"id".as("dst"), $"label".as("nbr_label")), "dst")
        .groupBy($"src").agg(min($"nbr_label").as("nbr_min"))
      val stepped = cur
        .join(nbrMin.select($"src".as("id"), $"nbr_min"), Seq("id"), "left")
        .select($"id",
          least($"label", coalesce($"nbr_min", $"label")).as("label"))
      // Pointer jump against CUR, the checkpointed previous table, not
      // against `stepped` itself (round 17): the stepped⋈stepped form
      // evaluated the whole adoption subtree TWICE per round — the two
      // join sides exchange on different keys (label vs id), so
      // ReuseExchange never dedups them — while cur reads materialized
      // blocks for free. Correctness is unchanged: labels are monotone
      // non-increasing under both ops, any adopted label still names a
      // node of the same component (min-reachable semantics), and at
      // the fixpoint stepped == cur makes the two forms identical — so
      // the loop converges to the same min-id labeling (PropertySpec's
      // union-find equivalence pins it on random graphs). The jump
      // compresses through the one-round-older table, which can cost
      // an extra round on deep chains — measured: rounds unchanged on
      // the bench corpora, per-round work halved.
      // (A second jump through the same table was tried round 17 and
      // REJECTED: round count stayed at 6 on the multi-evidence graph —
      // the adoption hop, not pointer depth, limits convergence here —
      // so the extra join per round was pure cost.)
      stepped.as("n")
        .join(cur.select($"id".as("lid"), $"label".as("plabel")),
          col("n.label") === col("lid"), "left")
        .select(col("n.id").as("id"),
          least(col("n.label"), coalesce($"plabel", col("n.label"))).as("label"))
    }
    while (!converged) {
      // exactly one step per materialization: `step` references its
      // input twice (the pointer-jump self-join), so composing steps
      // without a checkpoint re-evaluates the inner subtree 2^k times
      // — measured 50% slower at two steps despite fewer rounds.
      // FRESH-STATS checkpoint, not plain localCheckpoint: the plain
      // form seeds each round's LogicalRDD with the PARENT plan's
      // size estimate, and the pointer-jump self-join SQUARES it
      // every round — sizeInBytes digits double per iteration, and at
      // the sf10 round count Catalyst's BigInt stats arithmetic alone
      // pinned the driver for 20+ minutes (found by the round-13 sf10
      // full-surface sweep; invisible at sf0.1 where the compounding
      // stays small). GraftCheckpoint derives the new leaf's stats
      // from the materialized truth instead — bounded by construction.
      // labelSum rides the checkpoint's own materialization pass
      // (column 1 = label) — one job per round instead of two
      val (next, s) = org.apache.spark.sql.execution.GraftCheckpoint
        .localCheckpointFreshStatsWithLongSum(step(labels), 1)
      // `next` is materialized (the fresh-stats checkpoint counts
      // eagerly), so the previous round's blocks are unreachable —
      // free them NOW instead of pinning O(rounds) checkpoints per
      // call (lineage is truncated, but nothing re-evaluates the old
      // frame; labels0 is the one exception, read by `isolated`)
      if (labels ne labels0)
        BlockHygiene.unpersistCheckpointed(labels)
      converged = s == prevSum
      prevSum = s
      labels = next
    }
    labels.select($"id", $"label".as("component"))
      .union(isolated.select($"id", $"id".as("component")))
  }

  /** Shared cluster projection of every clustering tier (documents and
    * embeddings): [[connectedComponents]] of `nodes`' `id` column over
    * `pairs`, one row per node — `(id, cluster_id, cluster_size,
    * is_keeper)`, ordered by id. */
  private[textops] def clusterize(nodes: DataFrame, id: String,
                                  pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(nodes.select(col(id)), pairs)
      .select(col("id").as(id), col("component").as("cluster_id"))
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col(id), col("cluster_id"), col("cluster_size"),
        (col(id) === col("cluster_id")).as("is_keeper"))
      .orderBy(col(id))
  }

  /** Near-dup CLUSTERS: [[connectedComponents]] over the MinHash-LSH
    * pair graph, plus canonical-document selection — the final stage
    * of a real training-data dedup pipeline (pairs alone don't dedupe
    * a corpus; you keep one doc per component and drop the rest).
    * Output: one row per document — cluster id (min doc_id of the
    * component), component size, keeper flag. Singleton docs (no
    * near-dup edge, incl. <3-token docs with no minhash signature) are
    * their own cluster.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // unordered pair core: the closure re-shuffles the edges anyway
    clusterize(Tables.documents(spark, sfDir), "doc_id",
      minhashLshPairs(spark, sfDir).select($"doc1", $"doc2"))
  }

  /** Shared CTE chain (requires WITH RECURSIVE) ending in
    * `cc(doc, cluster_id)` — the connected component (min reachable
    * doc id) of every document. Reused by corpus_prep.
    */
  lazy val clusterCtes: String = s"$minhashPairsCtes, " +
    closureCtes(Seq(("simpairs", "doc1", "doc2")), "documents", "doc_id", "doc")

  /** DuckDB twin of [[connectedComponents]] (needs WITH RECURSIVE):
    * `edges` (both directions of every `(relation, a, b)` pair
    * relation) → `reach` → `cc(v, cluster_id)`, the min reachable
    * `id` of every row of `table`, carried as `v`. */
  private def closureCtes(pairs: Seq[(String, String, String)], table: String,
                          id: String, v: String): String = {
    val edges = pairs
      .flatMap { case (rel, a, b) => Seq((rel, a, b), (rel, b, a)) }
      .zipWithIndex
      .map {
        case ((rel, a, b), 0) => s"SELECT $a AS src, $b AS dst FROM $rel"
        case ((rel, a, b), _) => s"UNION ALL SELECT $a, $b FROM $rel"
      }
      .mkString("\n  ")
    s"""edges AS (
       |  $edges
       |), reach AS (
       |  SELECT $id AS $v, $id AS lab FROM $table
       |  UNION
       |  SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.$v
       |), cc AS (
       |  SELECT $v, min(lab) AS cluster_id FROM reach GROUP BY $v
       |)""".stripMargin
  }

  /** DuckDB twin of [[clusterize]]: the pair CTE chain `pairCtes`, the
    * recursive closure over its pair relations ([[closureCtes]]), and
    * one `(id, cluster_id, cluster_size, is_keeper)` row per node. */
  private[textops] def clustersOracle(pairCtes: String,
                                      pairs: Seq[(String, String, String)],
                                      table: String, id: String,
                                      v: String): String =
    s"""WITH RECURSIVE $pairCtes, ${closureCtes(pairs, table, id, v)}, sizes AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1
       |)
       |SELECT c.$v AS $id, c.cluster_id, s.cluster_size,
       |       (c.$v = c.cluster_id) AS is_keeper
       |FROM cc c JOIN sizes s ON c.cluster_id = s.cluster_id
       |ORDER BY $id""".stripMargin

  /** Oracle: transitive closure by recursive CTE (min reachable id =
    * component id) over the same simpairs edge set.
    */
  val dedupClustersOracle: String = clustersOracle(minhashPairsCtes,
    Seq(("simpairs", "doc1", "doc2")), "documents", "doc_id", "doc")

  /** Multi-evidence clustering: a production dedup pass unions EVERY
    * near-dup signal before clustering — here the MinHash-Jaccard
    * pairs and the SimHash-hamming pairs (each tier catches dups the
    * other misses: token-set overlap vs weighted-bit similarity). Same
    * [[connectedComponents]] loop, wider edge set; the oracle unions
    * the two independently-verified pair CTE chains under the same
    * recursive closure.
    */
  def dedupClustersMulti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    clusterize(Tables.documents(spark, sfDir), "doc_id",
      minhashLshPairs(spark, sfDir).select($"doc1", $"doc2")
        .union(simhashPairsCorpus(spark, sfDir).select($"doc1", $"doc2"))
        .distinct())
  }

  lazy val dedupClustersMultiOracle: String =
    clustersOracle(s"$minhashPairsCtes, $simhashPairsCtes",
      Seq(("simpairs", "doc1", "doc2"), ("hampairs", "doc1", "doc2")),
      "documents", "doc_id", "doc")

  /** Skew-robust multi-evidence clustering: [[dedupClustersMulti]] with
    * the MinHash evidence drawn from [[minhashLshCapped]] — the
    * production configuration for corpora that may contain corpus-wide
    * boilerplate. Why: the sf1 skew rehearsal (BASELINE.md) showed the
    * uncapped tier inheriting the inflated band buckets as ONE giant
    * near-clique — O(bucket²) enumerated pairs feeding every label-
    * propagation round (29.5 s vs 10 s uniform, 3.0×). Capping bucket
    * occupancy deletes exactly those edges; what the cap drops are
    * pairs whose entire similarity IS the boilerplate, which a dedup
    * pass should not be clustering on anyway (they would collapse 20 %
    * of the corpus into one keeper). SimHash evidence stays uncapped —
    * its fingerprint is a weighted majority over the WHOLE document, so
    * a shared prefix never floods its candidate blocks (measured 1.2×
    * under the same skew). At the correctness tiers the cap never
    * binds: output bit-identical to the exact tier, and the driver gate
    * replays the full capped pipeline (bucket occupancy → cap →
    * pairwise verify → union → recursive closure) in DuckDB with the
    * cap derived from the corpus itself.
    */
  def dedupClustersMultiCapped(spark: SparkSession, sfDir: String,
                               maxDf: Int = -1): DataFrame = {
    import spark.implicits._
    clusterize(Tables.documents(spark, sfDir), "doc_id",
      minhashLshCappedPairs(spark, sfDir, maxDf).select($"doc1", $"doc2")
        .union(simhashPairsCorpus(spark, sfDir).select($"doc1", $"doc2"))
        .distinct())
  }

  /** [[minhashPairsCtes]] with the bucket-occupancy cap replayed —
    * chain ends in `csimpairs(doc1, doc2, sim)`; cap derived from the
    * corpus via [[autoMaxDfDuck]] (≡ the Scala side's [[autoMaxDf]] at
    * every SF). */
  private lazy val minhashCappedPairsCtes: String =
    s"""$minhashSigCtes, bands AS (
       |  ${bandSelectsDuck("sig")}
       |), keptbands AS (
       |  SELECT b.* FROM bands b JOIN (
       |    SELECT band_idx, band_hash FROM bands GROUP BY 1, 2
       |    HAVING count(*) <= $autoMaxDfDuck
       |  ) kb USING (band_idx, band_hash)
       |), ${bandPairsCte("clshpairs", "keptbands")}, """.stripMargin +
      simPairsCte("csimpairs", "clshpairs")

  val minhashLshCappedOracle: String =
    s"""WITH $minhashCappedPairsCtes
       |SELECT doc1, doc2, sim FROM csimpairs ORDER BY doc1, doc2""".stripMargin

  lazy val dedupClustersMultiCappedOracle: String =
    clustersOracle(s"$minhashCappedPairsCtes, $simhashPairsCtes",
      Seq(("csimpairs", "doc1", "doc2"), ("hampairs", "doc1", "doc2")),
      "documents", "doc_id", "doc")

  // ---------------------------------------------------------------- simhash

  /** doc_id + 60-bit simhash fingerprint from token-hash bit weights.
    * 60 bits = two independent 30-bit poly hashes packed (a single
    * poly hash is < 2^30, so its high bits carry no signal — a 32-bit
    * simhash over it degenerates and floods the candidate join);
    * simhash60 fuses the 60-bit × n-token weight fold into one native
    * codegen'd loop (the doubly-nested HOF form was 275 s at sf0.1).
    */
  private def simhashSig(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "token_hashes60(text) as th")
      .where("size(th) >= 1")
      .selectExpr("doc_id", "simhash60(th) as simhash")
  }

  /** Near-dup pairs with hamming(simhash) ≤ 3 via 4×15-bit block
    * pigeonhole candidates (≤3 flipped bits over 4 blocks ⇒ at least
    * one block identical — candidate set provably complete, pinned by
    * the brute-force-equality property test). Core over any (doc_id,
    * simhash) frame; [[simhashDedup]] binds it to the corpus
    * signatures.
    */
  def simhashPairsFrom(sig: DataFrame): DataFrame = {
    import sig.sparkSession.implicits._
    simhashPairsUnordered(sig).orderBy($"doc1", $"doc2")
  }

  /** [[simhashPairsFrom]] without the presentation sort — see
    * [[minhashLshPairs]]. */
  private[textops] def simhashPairsUnordered(sig: DataFrame): DataFrame = {
    import sig.sparkSession.implicits._
    val blockArray = (0 until 4)
      .map(blk => s"(shiftright(simhash, ${15 * blk}) & 32767)")
      .mkString("array(", ", ", ")")
    val blocks = sig.selectExpr("doc_id", "simhash",
      s"posexplode($blockArray) as (pos, byte_val)")
    blocks.as("x")
      .join(blocks.as("y"),
        col("x.pos") === col("y.pos") &&
          col("x.byte_val") === col("y.byte_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .selectExpr("x.doc_id as doc1", "y.doc_id as doc2",
        "bit_count(x.simhash ^ y.simhash) as hamming")
      .distinct()
      .where($"hamming" <= 3)
  }

  def simhashDedup(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsFrom(simhashSig(spark, sfDir))

  /** Unordered corpus simhash pairs for re-shuffling consumers. */
  private[textops] def simhashPairsCorpus(spark: SparkSession,
                                          sfDir: String): DataFrame =
    simhashPairsUnordered(simhashSig(spark, sfDir))

  /** Shared DuckDB CTE chain ending in `hampairs(doc1, doc2, hamming)`
    * — the simhash near-dup pairs at hamming ≤ 3. CTE names are
    * sm-prefixed so the chain composes with [[minhashPairsCtes]] in
    * the multi-evidence clusters oracle.
    */
  private lazy val simhashPairsCtes: String = {
    val blockSelects = (0 until 4).map(blk =>
      s"SELECT doc_id, $blk AS pos, (simhash >> ${15 * blk}) & 32767 AS byte_val FROM smsig")
      .mkString("\n  UNION ALL ")
    s"""smtoks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), smth AS (
       |  SELECT doc_id, list_transform(tokens, tk -> ${tokenHash60Duck("tk", "h")}) AS tharr
       |  FROM smtoks WHERE len(tokens) >= 1
       |), smsig AS (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(0, 60), bi ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(tharr, hb -> ((hb >> bi) & 1) * 2 - 1)),
       |             (ab, xb) -> ab + xb) > 0
       |      THEN (CAST(1 AS BIGINT) << bi) ELSE CAST(0 AS BIGINT) END)),
       |    (sa, sx) -> sa + sx) AS simhash FROM smth
       |), smblocks AS (
       |  $blockSelects
       |), smcand AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM smblocks x JOIN smblocks y ON x.pos = y.pos
       |    AND x.byte_val = y.byte_val AND x.doc_id < y.doc_id
       |), hampairs AS (
       |  SELECT p.doc1, p.doc2, bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM smcand p JOIN smsig a ON p.doc1 = a.doc_id JOIN smsig b ON p.doc2 = b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |)""".stripMargin
  }

  val simhashDedupOracle: String =
    s"""WITH $simhashPairsCtes
       |SELECT doc1, doc2, hamming FROM hampairs ORDER BY doc1, doc2""".stripMargin

  // ------------------------------------------------------------- 3-gram jaccard

  /** Shared n-gram front end: documents → rarity-sorted shingle-id
    * arrays, localCheckpoint-materialized (feeds multiple join sides in
    * every consumer — [[ngramJaccard]]'s two self-join sides + two
    * verify join-backs, [[dedupContainment]]'s prefix + index + verify).
    */
  private def shingleEncoded(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // native one-pass shingling (word_shingles ≡ the HOF chain
    // filter(split)→transform(slice+concat_ws)→array_distinct, pinned
    // bit-identical by a property test; empty array ⟺ <3 tokens)
    val shingled = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "word_shingles(text, 3) as shingles")
      .where("size(shingles) >= 1")
    // materialize the shingle→explode pass ONCE: `inv` feeds the rarity
    // dictionary (twice — freq agg + zipWithIndex job) AND the doc
    // encoding join; measured with the native word_shingles front end,
    // the checkpoint still beats recomputing those three subtrees
    val inv = shingled.selectExpr("doc_id", "explode(shingles) as sh")
      .transform(BlockHygiene.checkpointTracked)
    // global rarity order over the shingle dictionary — contiguous ids
    // WITHOUT a single-partition window: range-partition on the rank
    // order, sort within partitions, zipWithIndex. The ids are
    // identical to row_number() over (freq, sh) — the data is totally
    // ordered across range partitions, so the global index is
    // order-preserving regardless of sampled boundaries — but every
    // partition ranks in parallel (the 100 TB-vocabulary shape).
    val freqs = inv.groupBy($"sh").agg(count(lit(1)).as("freq"))
    val ranked = {
      // Partition count from session conf, NOT freqs.rdd.getNumPartitions
      // (round 17): under AQE, .rdd on the agg EXECUTES its shuffle in a
      // separate DAG just to report a count, and the range-sort DAG below
      // then recomputes it — a full wasted pass over the shingle table.
      // Any positive count yields identical ids (the global index is
      // order-preserving across range partitions regardless of how many).
      val parts = math.max(
        spark.sessionState.conf.numShufflePartitions, 1)
      val sortedRdd = freqs
        .repartitionByRange(parts, $"freq".asc, $"sh".asc)
        .sortWithinPartitions($"freq".asc, $"sh".asc)
        .select($"sh").rdd
      // zipWithIndex replacement (round 18): its count job scanned the
      // sorted partitions once, then its map job RECOMPUTED the whole
      // lineage — a second read of the freq shuffle plus a second
      // within-partition sort of the dictionary, in every
      // shingle-encoding query. Same two jobs, less work: materialize
      // the sorted partitions once (localCheckpoint) with the
      // per-partition counts folded into the materialization pass (the
      // CC labelSum trick), then assign ids from the cumulative
      // offsets while reading the materialized blocks. Ids are
      // bit-identical to zipWithIndex's (global position in
      // (freq, sh) order, +1). Registered like every checkpoint, so
      // an enclosing BlockHygiene bracket releases it.
      BlockHygiene.trackPersisted(sortedRdd.localCheckpoint().id)
      val counts = sortedRdd
        .mapPartitionsWithIndex { (pid, it) =>
          var c = 0L
          while (it.hasNext) { it.next(); c += 1 }
          Iterator.single((pid, c))
        }
        .collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      // rid feeds int arrays (sorted_intersect_count); fail fast
      // rather than wrap silently past 2^31 distinct shingles
      require(offsets.last < Int.MaxValue - 1,
        "shingle dictionary exceeds Int ids")
      sortedRdd
        .mapPartitionsWithIndex { (pid, it) =>
          var i = offsets(pid)
          it.map { r => i += 1; (r.getString(0), i.toInt) }
        }
        .toDF("sh", "rid")
    }
    // docs re-encoded as rarity-sorted int arrays; localCheckpoint
    // materializes the 5k-row encoding ONCE — it feeds four subtrees
    // (both self-join sides + two verify join-backs) that would
    // otherwise each recompute tokenize→shingle→dict-join (the bulk of
    // the query's cost). Unlike cache(), checkpoint blocks are dropped
    // by the ContextCleaner once the query's RDDs are unreachable, so
    // nothing leaks across a long session.
    inv.join(broadcast(ranked), "sh")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"rid")).as("ids"))
      .transform(BlockHygiene.checkpointTracked)
  }

  /** Rarest-prefix posting rows for the PPJoin candidate stage:
    * (doc_id, n, ppos, pid) — one row per id in each doc's
    * ⌊(1−t)·n⌋+1 rarest prefix. Shared by [[ngramJaccard]] and the
    * candidate-volume telemetry so the two can't drift.
    */
  private def ngramPrefix(enc: DataFrame, threshold: Double): DataFrame =
    enc.selectExpr("doc_id", "size(ids) as n",
      s"posexplode(slice(ids, 1, cast(floor((1.0 - $threshold) * size(ids)) as int) + 1)) as (ppos, pid)")

  /** PPJoin candidate pairs (pre-verify, distinct): prefix inverted-
    * index self-join with the length + positional filters (exact
    * pruning: a pruned pair provably cannot reach the threshold, and
    * every surviving pair is verified with a true intersection in
    * [[ngramJaccard]], so recall is unaffected).
    *  - length: jaccard >= t forces min(n1,n2) >= t * max(n1,n2)
    *  - positional: a match at 0-based prefix positions (p1, p2) caps
    *    the intersection at ub = min(n1-p1, n2-p2); keep only if
    *    ub/(n1+n2-ub) >= t, i.e. ub*(1+t) >= t*(n1+n2). The 1e-9 slack
    *    makes double rounding err on the keep side only.
    */
  private def ngramCandidates(enc: DataFrame, threshold: Double,
                              maxDf: Int = Int.MaxValue): DataFrame = {
    // Hot-posting prune (exact; the boilerplate/skew guard): a posting
    // x can only survive the pairwise positional filter with SOME
    // partner y in its pid group if
    //   (1+t)·s_x ≥ t·(n_x + n_min(pid)),   s = n − ppos (suffix len),
    // because min(s_x,s_y) ≤ s_x and n_y ≥ n_min(pid). Dropping
    // postings that fail this is a pure relaxation of the join's own
    // filter — output provably identical — but it deletes a
    // corpus-wide boilerplate run's postings BEFORE the self-join:
    // shared boilerplate shingles are globally frequent, so they sit
    // at the END of every rarity-sorted array (small s) while n is
    // full-document — exactly the failing shape. Measured on the sf1
    // skew tier (20 % of 50 k docs sharing a 48-shingle prefix): the
    // hot pid groups (10 k postings each → 10⁸ enumerated-then-
    // rejected pairs) vanish, 305 s → single digits. Cost when no
    // group is prunable: one window pass over the posting table
    // (partitioned by pid — parallel, no hot single task since it is
    // an agg-only window, and groups that DO get big are the ones
    // being deleted). Groups of one posting can never pair — dropped
    // by the same pass.
    val w = Window.partitionBy(col("pid"))
    // Materialize the pruned prefix table ONCE (round 18): both sides
    // of the pid self-join below are this same subtree, and while
    // ReuseExchange dedups the pid exchange, the sort + window + prune
    // filter above it ran TWICE — once per join side — over the full
    // posting table (candidate window + self-join ≈ 1.4 s, the
    // pipeline's largest stage: OPTIMIZATION_r17.md's stage split under
    // "dedup_ngram_jaccard_capped"). The fresh-stats checkpoint preserves
    // the pid partitioning and sort order, so the self-join reads the
    // materialized blocks on both sides with no re-sort; output is the
    // same posting rows, so the candidate set is unchanged.
    val pref = org.apache.spark.sql.execution.GraftCheckpoint
      .localCheckpointFreshStats(
        ngramPrefix(enc, threshold)
          .withColumn("nmin", min(col("n")).over(w))
          .withColumn("gcnt", count(lit(1)).over(w))
          .where(col("gcnt") >= 2 && col("gcnt") <= maxDf &&
            expr(s"(1.0 + $threshold) * (n - ppos) >= $threshold * (n + nmin) - 1e-9"))
          .drop("nmin", "gcnt"))
    pref.as("x")
      .join(pref.as("y"),
        col("x.pid") === col("y.pid") && col("x.doc_id") < col("y.doc_id") &&
          expr(s"least(x.n, y.n) >= $threshold * greatest(x.n, y.n) - 1e-9") &&
          expr(s"least(x.n - x.ppos, y.n - y.ppos) * (1.0 + $threshold)" +
            s" >= $threshold * (x.n + y.n) - 1e-9"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
  }

  /** Exact intersection verify over candidate pairs. The verify side
    * carries the full shingle-id arrays (~1.2 KB/doc). Below ~20k docs
    * (≈25 MB) broadcasting them to the candidate pairs wins; past that
    * the broadcast itself becomes the memory/network bottleneck, so
    * flip to shuffled equi-joins on doc id (exercised by the sf1
    * tier's 50k docs; enc is localCheckpoint-materialized, the count
    * is free). Emits (doc1, doc2, inter_cnt, n1, n2).
    */
  private def verifyIntersect(enc: DataFrame, pairs: DataFrame): DataFrame = {
    import enc.sparkSession.implicits._
    val e1 = enc.select($"doc_id".as("doc1"), $"ids".as("ids1"))
    val e2 = enc.select($"doc_id".as("doc2"), $"ids".as("ids2"))
    val small = enc.count() <= BroadcastVerifyMaxDocs
    pairs
      .join(if (small) broadcast(e1) else e1, "doc1")
      .join(if (small) broadcast(e2) else e2, "doc2")
      .selectExpr("doc1", "doc2",
        // native two-pointer merge (ids are sorted distinct); the
        // hash-set-based array_intersect was the verify bottleneck
        "sorted_intersect_count(ids1, ids2) as inter_cnt",
        "size(ids1) as n1", "size(ids2) as n2")
  }

  /** Verified Jaccard pairs from encoded docs + candidate pairs — the
    * tail of [[ngramJaccard]], shared with the telemetry query. */
  private def ngramVerify(enc: DataFrame, pairs: DataFrame,
                          threshold: Double): DataFrame = {
    import enc.sparkSession.implicits._
    verifyIntersect(enc, pairs)
      .withColumn("jaccard",
        expr("cast(inter_cnt as double) / (n1 + n2 - inter_cnt)"))
      .where($"jaccard" >= threshold)
      .select($"doc1", $"doc2", $"inter_cnt", $"jaccard")
  }

  /** Exact n-gram Jaccard near-dup with PPJoin-style prefix filtering.
    *
    * The naive inverted-index self-join on ALL shingles costs
    * Σ_shingle c² — on a dense shared-vocabulary corpus the hottest
    * shingle buckets dominate (39 s of the sf0.1 bench). The prefix
    * filter is an EXACT optimization: order shingles globally by
    * rarity; two sets with Jaccard ≥ t must share a shingle among each
    * set's first ⌊(1−t)·n⌋+1 rarest shingles, so candidates come from
    * joining only those prefixes (the dense head buckets drop out of
    * the join entirely), then each candidate pair is verified with a
    * true intersection — output set provably identical to all-pairs,
    * which is why the DuckDB oracle can stay the naive formulation.
    *
    * Scale notes: the rarity dictionary (distinct shingles) is ranked
    * via range-partition + sortWithinPartitions + zipWithIndex —
    * contiguous global ids with every partition ranking in parallel,
    * no single-task window even at 100 TB vocabulary. The verify step
    * broadcasts the doc→shingle-id arrays (5 k docs ≈ 6 MB; at larger
    * corpora this becomes a shuffled join on doc_id — flip the
    * broadcast() hint).
    */
  def ngramJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val enc = shingleEncoded(spark, sfDir)
    ngramVerify(enc, ngramCandidates(enc, threshold), threshold)
      .orderBy($"doc1", $"doc2")
  }

  /** Skew-robust n-gram Jaccard: [[ngramJaccard]] with a df cap on the
    * CANDIDATE index — prefix postings whose shingle appears in more
    * than `maxDf` prefixes are dropped before the self-join; the
    * verify intersection still runs over the FULL shingle arrays, so
    * every reported pair's jaccard is exact.
    *
    * Why this variant exists (sf1 skew rehearsal, BASELINE.md): at
    * t=0.2 the PPJoin prefix is 80 % of each document, so a corpus-wide
    * boilerplate run (20 % of 50 k docs sharing a 48-shingle license
    * header) puts ~30 shared shingles inside ~10 k prefixes each —
    * 1.02 BILLION enumerated prefix pairs, 99 % from those 30 pids
    * (measured; the exact query runs 305 s vs 11 s uniform). No exact
    * algorithm avoids this: short boilerplate pairs genuinely clear
    * t=0.2, so the blowup is partly TRUE-POSITIVE enumeration. The cap
    * trades recall for skew-immunity with the same corpus-relative
    * rule as [[dedupSubstring]] ([[autoMaxDf]]): a pair is missed only
    * when EVERY shared prefix shingle is boilerplate-hot — i.e. pairs
    * whose entire similarity IS the boilerplate. Recall loss at the
    * correctness tiers: zero (no shingle df exceeds the cap at 500
    * docs — output bit-identical to the exact tier; the driver's hash
    * gate pins the full capped pipeline via its own replay oracle).
    *
    * REF: the reference has no dedup surface; policy follows the
    * winnowing df-cap convention (SURVEY §2 LLM-pipeline rows).
    */
  def ngramJaccardCapped(spark: SparkSession, sfDir: String,
                         threshold: Double = 0.2, maxDf: Int = -1): DataFrame = {
    import spark.implicits._
    val cap = if (maxDf > 0) maxDf else autoMaxDf(nDocs(spark, sfDir))
    val enc = shingleEncoded(spark, sfDir)
    ngramVerify(enc, ngramCandidates(enc, threshold, cap), threshold)
      .orderBy($"doc1", $"doc2")
  }

  /** DuckDB replay of [[ngramJaccardCapped]]: full pipeline — rarity
    * ranking (row_number ≡ the range-partition + zipWithIndex ids),
    * prefix slice, per-pid prefix-count cap, pairwise length +
    * positional filters, exact-intersection verify. The nmin
    * per-posting prune is NOT replayed: it is output-neutral by
    * construction (a pure relaxation of the pairwise filter), so the
    * candidate set — and therefore the verified output — is identical
    * without it.
    */
  def ngramJaccardCappedOracle(threshold: Double = 0.2, maxDf: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), shingled AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(tokens) - 2), gi ->
       |    array_to_string(tokens[gi + 1 : gi + 3], ' '))) AS shingles
       |  FROM toks WHERE len(tokens) >= 3
       |), inv AS (
       |  SELECT doc_id, unnest(shingles) AS sh FROM shingled
       |), freqs AS (
       |  SELECT sh, count(*) AS freq FROM inv GROUP BY 1
       |), ranked AS (
       |  SELECT sh, CAST(row_number() OVER (ORDER BY freq, sh) AS INT) AS rid
       |  FROM freqs
       |), enc AS (
       |  SELECT doc_id, list_sort(list(rid)) AS ids
       |  FROM inv JOIN ranked USING (sh) GROUP BY doc_id
       |), sized AS (
       |  SELECT doc_id, ids, len(ids) AS n FROM enc
       |), pref AS (
       |  SELECT doc_id, n, i - 1 AS ppos, ids[CAST(i AS INT)] AS pid
       |  FROM (SELECT doc_id, ids, n,
       |               unnest(generate_series(CAST(1 AS BIGINT),
       |                 CAST(floor((1.0 - $threshold) * n) AS BIGINT) + 1)) AS i
       |        FROM sized)
       |), keptpid AS (
       |  SELECT pid FROM pref GROUP BY pid
       |  HAVING count(*) >= 2 AND count(*) <= $maxDf
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM pref x JOIN keptpid kp ON x.pid = kp.pid
       |       JOIN pref y ON x.pid = y.pid AND x.doc_id < y.doc_id
       |    AND least(x.n, y.n) >= $threshold * greatest(x.n, y.n) - 1e-9
       |    AND least(x.n - x.ppos, y.n - y.ppos) * (1.0 + $threshold)
       |        >= $threshold * (x.n + y.n) - 1e-9
       |), inter AS (
       |  SELECT c.doc1, c.doc2, count(*) AS inter_cnt
       |  FROM cand c JOIN inv x ON x.doc_id = c.doc1
       |       JOIN inv y ON y.doc_id = c.doc2 AND x.sh = y.sh
       |  GROUP BY 1, 2
       |)
       |SELECT i.doc1, i.doc2, i.inter_cnt,
       |       CAST(i.inter_cnt AS DOUBLE) / (s1.n + s2.n - i.inter_cnt) AS jaccard
       |FROM inter i
       |JOIN sized s1 ON i.doc1 = s1.doc_id
       |JOIN sized s2 ON i.doc2 = s2.doc_id
       |WHERE CAST(i.inter_cnt AS DOUBLE) / (s1.n + s2.n - i.inter_cnt) >= $threshold
       |ORDER BY doc1, doc2""".stripMargin

  /** Winnowing-selected fingerprint postings (doc_id, fp) — the
    * shared front end of [[dedupSubstringFrom]] and the df-cap
    * telemetry ([[substringDfCurve]], [[dedupCandidateStats]]).
    * localCheckpoint: feeds the df cap and both join sides.
    */
  private def winnowSelected(docs: DataFrame, k: Int, radius: Int): DataFrame =
    docs
      .selectExpr("doc_id", s"explode(winnow_hashes(text, $k, $radius)) as fp")
      .transform(BlockHygiene.checkpointTracked)

  /** Core over any (doc_id, text) frame — the query below binds it to
    * the documents table; the planted-run property test drives it over
    * synthetic corpora.
    */
  def dedupSubstringFrom(docs: DataFrame, k: Int, radius: Int,
                         minShared: Int, maxDf: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val sel = winnowSelected(docs, k, radius)
    val keep = sel.groupBy($"fp").agg(count(lit(1)).as("df"))
      .where($"df" <= maxDf).select($"fp")
    val kept = sel.join(keep, "fp")
    kept.select($"fp", $"doc_id".as("doc1"))
      .join(kept.select($"fp", $"doc_id".as("doc2")), "fp")
      .where($"doc1" < $"doc2")
      .groupBy($"doc1", $"doc2").agg(count(lit(1)).as("shared_fp"))
      .where($"shared_fp" >= minShared)
      .orderBy($"doc1", $"doc2")
  }

  /** Substring-level duplicate candidates (winnowing / MOSS family):
    * two documents sharing VERBATIM character runs — quotation,
    * boilerplate injection, copy-paste — that token-set tiers miss
    * when the surrounding text differs. Every k-char window is hashed
    * in one native pass ([[graft.functions.GraftExpressions
    * .WindowHashes]]); a window's fingerprint is SELECTED iff it is
    * the minimum of its radius-r neighborhood — the symmetric local-
    * min winnowing rule, which is shift-invariant (selection depends
    * only on nearby content, so the same run selects the same
    * fingerprints in both documents regardless of position) and
    * guarantees a selection at least every 2r+1 windows. Candidate
    * generation is the usual inverted-index equi-join on selected
    * fingerprints — never an n² scan — with a document-frequency cap
    * (a 16-gram in >maxDf docs is boilerplate, not dup evidence, and
    * the cap also bounds the join's per-key fanout, the same skew
    * guard the LSH tiers use); >= minShared distinct shared
    * fingerprints cuts single-window noise.
    */
  def dedupSubstring(spark: SparkSession, sfDir: String, k: Int = 24,
                     radius: Int = 7, minShared: Int = 2,
                     maxDf: Int = -1): DataFrame =
    // k=24 / maxDf=10, not the winnowing-literature 16/50: this
    // corpus draws from a ~30-word vocabulary, so short windows recur
    // corpus-wide and dup evidence must be LONG and RARE or the
    // inverted index degenerates toward all-pairs (16/50 measured an
    // 80 s query at sf0.1; 24/10 is 1.5 s with the same plan shape).
    // maxDf < 0 → corpus-relative cap (autoMaxDf; == 10 at the oracle
    // tiers, scales past 5k docs)
    dedupSubstringFrom(Tables.documents(spark, sfDir), k, radius,
      minShared, if (maxDf > 0) maxDf else autoMaxDf(nDocs(spark, sfDir)))

  /** Shared DuckDB CTE fragment `wins AS (...), sel AS (...)` — the
    * winnowing selection chain (every k-char window hash; local-min
    * selection in a radius-r neighborhood), reused by the substring
    * oracle and both telemetry oracles. */
  private def substringSelCtes(k: Int, radius: Int): String =
    s"""wins AS (
       |  SELECT doc_id,
       |         list_transform(range(1, greatest(length(text) - $k + 1, 1) + 1), wwi ->
       |           ${phDuck(s"substring(text, wwi, $k)", "ww")}) AS f
       |  FROM documents
       |), sel AS (
       |  SELECT doc_id, unnest(list_distinct(list_filter(
       |           list_transform(range(1, len(f) + 1), si ->
       |             CASE WHEN f[si] = list_min(
       |                    f[greatest(si - $radius, 1):least(si + $radius, len(f))])
       |                  THEN f[si] END),
       |           sv -> sv IS NOT NULL))) AS fp
       |  FROM wins
       |)""".stripMargin

  def dedupSubstringOracle(k: Int = 24, radius: Int = 7, minShared: Int = 2,
                           maxDf: Int = 10): String =
    s"""WITH ${substringSelCtes(k, radius)}, keep AS (
       |  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= $maxDf
       |), kept AS (
       |  SELECT s.doc_id, s.fp FROM sel s JOIN keep USING (fp)
       |)
       |SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS shared_fp
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY doc1, doc2""".stripMargin

  /** Contained-side rarest-prefix posting rows (doc_id, n, ppos, pid) —
    * shared by [[dedupContainment]]'s candidate stage and the
    * candidate telemetry (row count is what telemetry reads; the ppos
    * column added round 18 for the positional filter leaves it
    * unchanged). */
  private def containmentPrefix(enc: DataFrame, threshold: Double): DataFrame =
    enc.selectExpr("doc_id", "size(ids) as n",
      s"posexplode(slice(ids, 1, cast(floor((1.0 - $threshold) * size(ids)) as int) + 1)) as (ppos, pid)")

  /** Containment candidate pairs (pre-verify, distinct): contained-
    * side rarest prefix joined against the full inverted index —
    * shared by [[dedupContainment]] and the candidate telemetry.
    *
    * `positional = true` (the serving path, round 18) adds two EXACT
    * prunes to the join — guide §2.3, fewer rows into the distinct
    * exchange and the verify joins (measured at sf0.1: 308 k → 181 k
    * joined rows, 300 k → 174 k candidate pairs, survivors unchanged):
    *  - length: C(A→B) = |A∩B|/|A| ≥ t and |A∩B| ≤ |B| force
    *    n2 ≥ t·n1;
    *  - positional: both id arrays are sorted in the SAME global
    *    rarity order, so for the rarest COMMON id g, at 0-based
    *    positions (p, q) in A resp. B, every common id sits at
    *    position ≥ p in A and ≥ q in B — hence
    *    |A∩B| ≤ min(n1−p, n2−q), and C ≥ t requires
    *    least(n1−p, n2−q) ≥ t·n1 at that row.
    * Exactness: if C(A→B) ≥ t then |A∩B| ≥ t·n1 puts g inside A's
    * ⌊(1−t)·n1⌋+1 prefix (n1−p ≥ |A∩B| ≥ t·n1 ⟹ p ≤ (1−t)·n1), and
    * any common id in the prefix implies the rarest one is (it sits
    * earliest among common ids) — so the g-row exists and passes both
    * bounds, and the pair survives the distinct. Rows dropped by the
    * filters can only belong to pairs below t (their loosest row —
    * the g-row — already failed), so the VERIFIED output is
    * bit-identical; the 1e-9 slack errs on the keep side, mirroring
    * [[ngramCandidates]]. The telemetry keeps `positional = false`
    * so its oracled candidates column is unchanged — it counts the
    * pigeonhole-only candidate set, an upper bound on the serving
    * one (survivors are identical under both).
    */
  private def containmentCandidates(enc: DataFrame, threshold: Double,
                                    positional: Boolean = true): DataFrame = {
    val pref = containmentPrefix(enc, threshold)
    val index =
      if (positional)
        enc.selectExpr("doc_id as doc2", "size(ids) as n2",
          "posexplode(ids) as (qpos, pid)")
      else enc.selectExpr("doc_id as doc2", "explode(ids) as pid")
    val baseCond =
      col("x.pid") === col("y.pid") && col("x.doc_id") =!= col("y.doc2")
    val cond =
      if (positional)
        baseCond &&
          expr(s"y.n2 >= $threshold * x.n - 1e-9") &&
          expr(s"least(x.n - x.ppos, y.n2 - y.qpos) >= $threshold * x.n - 1e-9")
      else baseCond
    pref.as("x")
      .join(index.as("y"), cond)
      .select(col("x.doc_id").as("doc1"), col("y.doc2"))
      .distinct()
  }

  /** Verified containment pairs — tail of [[dedupContainment]]. */
  private def containmentVerify(enc: DataFrame, pairs: DataFrame,
                                threshold: Double): DataFrame = {
    import enc.sparkSession.implicits._
    verifyIntersect(enc, pairs)
      .withColumn("containment", expr("cast(inter_cnt as double) / n1"))
      .where($"containment" >= threshold)
      .select($"doc1", $"doc2", $"inter_cnt", $"containment")
  }

  /** Asymmetric containment near-dups: C(A→B) = |A∩B| / |A| ≥ t —
    * the dup mode Jaccard structurally misses: a short document pasted
    * verbatim inside a much longer one has tiny Jaccard (the union is
    * dominated by B) and is pruned by the PPJoin length filter before
    * scoring, but its containment is ~1. This is quotation/boilerplate/
    * subset-republication detection, run as its own evidence tier.
    *
    * Exact candidate rule (prefix pigeonhole on the CONTAINED side
    * only): if C ≥ t then A∩B must touch the first
    * ⌊(1−t)·|A|⌋+1 rarest ids of A — missing all of them caps the
    * intersection below t·|A|. So the query side explodes only that
    * prefix while the index side posts every shingle (linear in the
    * corpus; the rarity sort biases joins toward low-df ids, and a
    * dedup_substring-style df cap is the knob for boilerplate-heavy
    * corpora). Verify is the exact sorted-merge intersection; same
    * broadcast→shuffle verify flip as [[ngramJaccard]].
    */
  def dedupContainment(spark: SparkSession, sfDir: String,
                       threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    val enc = shingleEncoded(spark, sfDir)
    containmentVerify(enc, containmentCandidates(enc, threshold), threshold)
      .orderBy($"doc1", $"doc2")
  }

  /** Oracle: full exact set arithmetic, directional pairs (doc1 = the
    * contained side), same shingle chain as the Jaccard oracle.
    */
  val dedupContainmentOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), shingled AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(tokens) - 2), gi ->
       |    array_to_string(tokens[gi + 1 : gi + 3], ' '))) AS shingles
       |  FROM toks WHERE len(tokens) >= 3
       |), sizes AS (
       |  SELECT doc_id, len(shingles) AS n_sh FROM shingled
       |), inv AS (
       |  SELECT doc_id, unnest(shingles) AS sh FROM shingled
       |), inter AS (
       |  SELECT x.doc_id AS doc1, y.doc_id AS doc2, count(*) AS inter_cnt
       |  FROM inv x JOIN inv y ON x.sh = y.sh AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT i.doc1, i.doc2, i.inter_cnt,
       |       CAST(i.inter_cnt AS DOUBLE) / s1.n_sh AS containment
       |FROM inter i
       |JOIN sizes s1 ON i.doc1 = s1.doc_id
       |WHERE CAST(i.inter_cnt AS DOUBLE) / s1.n_sh >= 0.8
       |ORDER BY doc1, doc2""".stripMargin

  val ngramJaccardOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), shingled AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(tokens) - 2), gi ->
       |    array_to_string(tokens[gi + 1 : gi + 3], ' '))) AS shingles
       |  FROM toks WHERE len(tokens) >= 3
       |), sizes AS (
       |  SELECT doc_id, len(shingles) AS n_sh FROM shingled
       |), inv AS (
       |  SELECT doc_id, unnest(shingles) AS sh FROM shingled
       |), inter AS (
       |  SELECT x.doc_id AS doc1, y.doc_id AS doc2, count(*) AS inter_cnt
       |  FROM inv x JOIN inv y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT i.doc1, i.doc2, i.inter_cnt,
       |       CAST(i.inter_cnt AS DOUBLE) / (s1.n_sh + s2.n_sh - i.inter_cnt) AS jaccard
       |FROM inter i
       |JOIN sizes s1 ON i.doc1 = s1.doc_id
       |JOIN sizes s2 ON i.doc2 = s2.doc_id
       |WHERE CAST(i.inter_cnt AS DOUBLE) / (s1.n_sh + s2.n_sh - i.inter_cnt) >= 0.2
       |ORDER BY doc1, doc2""".stripMargin

  // ── Candidate-volume telemetry ─────────────────────────────────────
  //
  // The three superlinear-risk tiers (ngram Jaccard, substring,
  // containment) stand on candidate FILTERS — PPJoin prefixes, the
  // winnowing df cap, the contained-side prefix. Whether those filters
  // keep holding at 100× is exactly the question the per-tier counts
  // below answer: postings entering the candidate join before/after
  // filtering, distinct candidate pairs, and verified survivors. At
  // any scale, candidates ≪ postings² and survivors/candidates well
  // above noise means the filter is doing its job; a candidates column
  // trending toward n² is the early warning the bench total can't give.

  /** One row per superlinear-risk dedup tier (ngram exact/capped,
    * containment, substring, and — round 9 — minhash LSH
    * exact/bucket-capped):
    * (tier, n_docs, postings_full, postings_filtered, candidates,
    * survivors). All counts exact and DuckDB-oracled; the candidate
    * columns replicate the live queries' candidate stages (shared
    * helper code, so telemetry can't drift from the queries it
    * measures).
    *
    * Scale shape: the dominant costs are the same candidate joins the
    * live tiers already run (shared localCheckpoint front ends — the
    * shingle encoding and winnow postings materialize once and feed
    * every count); the count aggregates themselves are map-side
    * partials crossJoin'd as 1-row broadcasts.
    */
  def dedupCandidateStats(spark: SparkSession, sfDir: String,
                          jaccardT: Double = 0.2, containT: Double = 0.8,
                          k: Int = 24, radius: Int = 7, minShared: Int = 2,
                          maxDf: Int = -1): DataFrame = {
    import spark.implicits._
    def cnt(df: DataFrame, as: String): DataFrame =
      broadcast(df.agg(count(lit(1)).as(as)))
    val enc = shingleEncoded(spark, sfDir)
    val encTotals = enc.agg(count(lit(1)).as("n_docs"),
      sum(size($"ids")).as("postings_full"))
    // ONE tagged candidate pass feeds BOTH ngram funnel rows (exact +
    // capped, round-8 skew rehearsal): each surviving pair carries
    // whether some matching pid group was under the df cap — since
    // x.pid = y.pid share a group, the flag is exact — and max(flag)
    // per distinct pair IS the capped tier's candidate set (a pair
    // enters it iff ANY kept pid produces it). The prefix self-join
    // and the verify intersection therefore run ONCE for both tiers
    // (the naive second candidate join measured +11 s at sf0.1).
    val dfCapN = if (maxDf > 0) maxDf else autoMaxDf(nDocs(spark, sfDir))
    val wPid = Window.partitionBy($"pid")
    val prefT = ngramPrefix(enc, jaccardT)
      .withColumn("gcnt", count(lit(1)).over(wPid))
      .withColumn("nmin", min($"n").over(wPid))
      .where($"gcnt" >= 2 &&
        expr(s"(1.0 + $jaccardT) * (n - ppos) >= $jaccardT * (n + nmin) - 1e-9"))
    val nCand = prefT.as("x")
      .join(prefT.as("y"),
        col("x.pid") === col("y.pid") && col("x.doc_id") < col("y.doc_id") &&
          expr(s"least(x.n, y.n) >= $jaccardT * greatest(x.n, y.n) - 1e-9") &&
          expr(s"least(x.n - x.ppos, y.n - y.ppos) * (1.0 + $jaccardT)" +
            s" >= $jaccardT * (x.n + y.n) - 1e-9"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"),
        (col("x.gcnt") <= dfCapN).as("kept"))
      .groupBy($"doc1", $"doc2").agg(max($"kept").as("capped_kept"))
      // feeds 2× candidate counts AND the verify
      .transform(BlockHygiene.checkpointTracked)
    val verified = ngramVerify(enc, nCand.select($"doc1", $"doc2"), jaccardT)
      .join(nCand, Seq("doc1", "doc2")).transform(BlockHygiene.checkpointTracked)
    val ngramRow = encTotals
      .crossJoin(cnt(ngramPrefix(enc, jaccardT), "postings_filtered"))
      .crossJoin(cnt(nCand, "candidates"))
      .crossJoin(cnt(verified, "survivors"))
      .selectExpr("'ngram_jaccard' as tier", "n_docs", "postings_full",
        "postings_filtered", "candidates", "survivors")
    val cappedKept = ngramPrefix(enc, jaccardT)
      .withColumn("gcnt", count(lit(1)).over(wPid))
      .where($"gcnt" >= 2 && $"gcnt" <= dfCapN)
    val cappedRow = encTotals
      .crossJoin(cnt(cappedKept, "postings_filtered"))
      .crossJoin(cnt(nCand.where($"capped_kept"), "candidates"))
      .crossJoin(cnt(verified.where($"capped_kept"), "survivors"))
      .selectExpr("'ngram_jaccard_capped' as tier", "n_docs", "postings_full",
        "postings_filtered", "candidates", "survivors")
    // positional = false: the oracled candidates column counts the
    // pigeonhole-only candidate set (the round-18 serving path prunes
    // further with the exact positional filter; survivors — the column
    // that matters for filter health — are identical under both)
    val cCand = containmentCandidates(enc, containT, positional = false)
      .transform(BlockHygiene.checkpointTracked)
    val containRow = encTotals
      .crossJoin(cnt(containmentPrefix(enc, containT), "postings_filtered"))
      .crossJoin(cnt(cCand, "candidates"))
      .crossJoin(cnt(containmentVerify(enc, cCand, containT), "survivors"))
      .selectExpr("'containment' as tier", "n_docs", "postings_full",
        "postings_filtered", "candidates", "survivors")
    val docs = Tables.documents(spark, sfDir)
    val dfCap = if (maxDf > 0) maxDf else autoMaxDf(nDocs(spark, sfDir))
    val sel = winnowSelected(docs, k, radius)
    val kept = sel.join(
      sel.groupBy($"fp").agg(count(lit(1)).as("df"))
        .where($"df" <= dfCap).select($"fp"), "fp")
    val pairAgg = kept.select($"fp", $"doc_id".as("doc1"))
      .join(kept.select($"fp", $"doc_id".as("doc2")), "fp")
      .where($"doc1" < $"doc2")
      .groupBy($"doc1", $"doc2").agg(count(lit(1)).as("shared_fp"))
      .transform(BlockHygiene.checkpointTracked) // feeds candidates AND survivors
    val substrRow = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      .crossJoin(cnt(sel, "postings_full"))
      .crossJoin(cnt(kept, "postings_filtered"))
      .crossJoin(cnt(pairAgg, "candidates"))
      .crossJoin(cnt(pairAgg.where($"shared_fp" >= minShared), "survivors"))
      .selectExpr("'substring' as tier", "n_docs", "postings_full",
        "postings_filtered", "candidates", "survivors")
    // MinHash LSH funnel (exact + bucket-capped) — same ONE tagged
    // candidate join serving both rows as the ngram pair above: bucket
    // occupancy rides the band rows (both sides of a bucket share it),
    // so max(occ ≤ cap) per distinct pair IS the capped tier's
    // candidate set, and the signature-agreement estimate is computed
    // once per distinct pair.
    val mBands = minhashBandRows(spark, sfDir)
      .withColumn("occ", count(lit(1)).over(
        Window.partitionBy($"band_idx", $"band_hash")))
      // feeds 2× postings counts AND the pair join
      .transform(BlockHygiene.checkpointTracked)
    val mPairable = mBands.where($"occ" >= 2) // singleton buckets can't pair
    val mCand = mPairable.as("x")
      .join(mPairable.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .selectExpr("x.doc_id as doc1", "y.doc_id as doc2",
        s"$sigAgreeSpark as sim",
        s"x.occ <= $dfCapN as kept")
      .groupBy($"doc1", $"doc2")
      .agg(max($"sim").as("sim"), max($"kept").as("capped_kept"))
      // feeds 2× candidate AND 2× survivor counts
      .transform(BlockHygiene.checkpointTracked)
    val mhDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val mRow = mhDocs
      .crossJoin(cnt(mBands, "postings_full"))
      .crossJoin(cnt(mPairable, "postings_filtered"))
      .crossJoin(cnt(mCand, "candidates"))
      .crossJoin(cnt(mCand.where($"sim" >= 0.5), "survivors"))
      .selectExpr("'minhash_lsh' as tier", "n_docs", "postings_full",
        "postings_filtered", "candidates", "survivors")
    val mCapRow = mhDocs
      .crossJoin(cnt(mBands, "postings_full"))
      .crossJoin(cnt(mPairable.where($"occ" <= dfCapN), "postings_filtered"))
      .crossJoin(cnt(mCand.where($"capped_kept"), "candidates"))
      .crossJoin(cnt(mCand.where($"capped_kept" && $"sim" >= 0.5), "survivors"))
      .selectExpr("'minhash_lsh_capped' as tier", "n_docs", "postings_full",
        "postings_filtered", "candidates", "survivors")
    ngramRow.unionAll(cappedRow).unionAll(containRow).unionAll(substrRow)
      .unionAll(mRow).unionAll(mCapRow)
      .orderBy($"tier")
  }

  /** DuckDB replay of [[dedupCandidateStats]]. The candidate counts
    * replicate the Spark candidate rules exactly: the rarity ranking is
    * row_number() over (freq ASC, sh ASC) — identical to the
    * range-partition + zipWithIndex ids — and the prefix/positional
    * filters use the same double arithmetic. Survivor counts reuse the
    * naive exact formulations (provably equal outputs).
    */
  def dedupCandidateStatsOracle(jaccardT: Double = 0.2,
                                containT: Double = 0.8,
                                k: Int = 24, radius: Int = 7,
                                minShared: Int = 2, maxDf: Int = 10): String = {
    // m-prefixed minhash chain built from the shared `toks` CTE (the
    // sig formulas are minhashSigCtes'; names differ to avoid CTE
    // collisions with the ngram chain's toks/inv); the bucket cap is
    // corpus-derived (autoMaxDfDuck) like the live query's autoMaxDf
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), shingled AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(tokens) - 2), gi ->
       |    array_to_string(tokens[gi + 1 : gi + 3], ' '))) AS shingles
       |  FROM toks WHERE len(tokens) >= 3
       |), inv AS (
       |  SELECT doc_id, unnest(shingles) AS sh FROM shingled
       |), freqs AS (
       |  SELECT sh, count(*) AS freq FROM inv GROUP BY 1
       |), ranked AS (
       |  SELECT sh, CAST(row_number() OVER (ORDER BY freq, sh) AS INT) AS rid
       |  FROM freqs
       |), enc AS (
       |  SELECT doc_id, list_sort(list(rid)) AS ids
       |  FROM inv JOIN ranked USING (sh) GROUP BY doc_id
       |), sized AS (
       |  SELECT doc_id, ids, len(ids) AS n FROM enc
       |), npref AS (
       |  SELECT doc_id, n, i - 1 AS ppos, ids[CAST(i AS INT)] AS pid
       |  FROM (SELECT doc_id, ids, n,
       |               unnest(generate_series(CAST(1 AS BIGINT),
       |                 CAST(floor((1.0 - $jaccardT) * n) AS BIGINT) + 1)) AS i
       |        FROM sized)
       |), ncand AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM npref x JOIN npref y ON x.pid = y.pid AND x.doc_id < y.doc_id
       |    AND least(x.n, y.n) >= $jaccardT * greatest(x.n, y.n) - 1e-9
       |    AND least(x.n - x.ppos, y.n - y.ppos) * (1.0 + $jaccardT)
       |        >= $jaccardT * (x.n + y.n) - 1e-9
       |), inter AS (
       |  SELECT x.doc_id AS doc1, y.doc_id AS doc2, count(*) AS inter_cnt
       |  FROM inv x JOIN inv y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |), nsurv AS (
       |  SELECT count(*) AS c FROM inter i
       |  JOIN sized s1 ON i.doc1 = s1.doc_id
       |  JOIN sized s2 ON i.doc2 = s2.doc_id
       |  WHERE CAST(i.inter_cnt AS DOUBLE) / (s1.n + s2.n - i.inter_cnt) >= $jaccardT
       |), nkeptpid AS (
       |  SELECT pid FROM npref GROUP BY pid
       |  HAVING count(*) >= 2 AND count(*) <= $maxDf
       |), ncandc AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM npref x JOIN nkeptpid kp ON x.pid = kp.pid
       |       JOIN npref y ON x.pid = y.pid AND x.doc_id < y.doc_id
       |    AND least(x.n, y.n) >= $jaccardT * greatest(x.n, y.n) - 1e-9
       |    AND least(x.n - x.ppos, y.n - y.ppos) * (1.0 + $jaccardT)
       |        >= $jaccardT * (x.n + y.n) - 1e-9
       |), nsurvc AS (
       |  SELECT count(*) AS c FROM ncandc cc
       |  JOIN inter i ON cc.doc1 = i.doc1 AND cc.doc2 = i.doc2
       |  JOIN sized s1 ON i.doc1 = s1.doc_id
       |  JOIN sized s2 ON i.doc2 = s2.doc_id
       |  WHERE CAST(i.inter_cnt AS DOUBLE) / (s1.n + s2.n - i.inter_cnt) >= $jaccardT
       |), cpref AS (
       |  SELECT doc_id, ids[CAST(i AS INT)] AS pid
       |  FROM (SELECT doc_id, ids,
       |               unnest(generate_series(CAST(1 AS BIGINT),
       |                 CAST(floor((1.0 - $containT) * n) AS BIGINT) + 1)) AS i
       |        FROM sized)
       |), cindex AS (
       |  SELECT doc_id AS doc2, unnest(ids) AS pid FROM enc
       |), ccand AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc2
       |  FROM cpref x JOIN cindex y ON x.pid = y.pid AND x.doc_id <> y.doc2
       |), interd AS (
       |  SELECT x.doc_id AS doc1, y.doc_id AS doc2, count(*) AS inter_cnt
       |  FROM inv x JOIN inv y ON x.sh = y.sh AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2
       |), csurv AS (
       |  SELECT count(*) AS c FROM interd i JOIN sized s1 ON i.doc1 = s1.doc_id
       |  WHERE CAST(i.inter_cnt AS DOUBLE) / s1.n >= $containT
       |), ${substringSelCtes(k, radius)}, sdfs AS (
       |  SELECT fp, count(*) AS df FROM sel GROUP BY 1
       |), skept AS (
       |  SELECT s.doc_id, s.fp FROM sel s JOIN sdfs USING (fp) WHERE df <= $maxDf
       |), spair AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS shared_fp
       |  FROM skept a JOIN skept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), mth AS (
       |  SELECT doc_id, list_transform(tokens, tk -> ${phDuck("tk", "h")}) AS tharr
       |  FROM toks WHERE len(tokens) >= 3
       |), mshc AS (
       |  SELECT doc_id, list_transform(range(0, len(tharr) - 2), sj ->
       |    ((tharr[sj + 1] * $SH + tharr[sj + 2]) % $P
       |     * $SH + tharr[sj + 3]) % $P) AS sh FROM mth
       |), msig AS (
       |  SELECT doc_id, $sigColsDuck FROM mshc
       |), mbands AS (
       |  ${bandSelectsDuck("msig")}
       |), mocc AS (
       |  SELECT band_idx, band_hash, count(*) AS occ FROM mbands GROUP BY 1, 2
       |), mb AS (
       |  SELECT b.doc_id, b.band_idx, b.band_hash, o.occ
       |  FROM mbands b JOIN mocc o USING (band_idx, band_hash)
       |  WHERE o.occ >= 2
       |), mpairs AS (
       |  SELECT x.doc_id AS doc1, y.doc_id AS doc2,
       |         max(CASE WHEN x.occ <= $autoMaxDfDuck THEN 1 ELSE 0 END) AS capped_kept
       |  FROM mb x JOIN mb y ON x.band_idx = y.band_idx
       |    AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |), msim AS (
       |  SELECT p.doc1, p.doc2, p.capped_kept,
       |         $sigAgreeDuck AS sim
       |  FROM mpairs p JOIN msig a ON p.doc1 = a.doc_id
       |                JOIN msig b ON p.doc2 = b.doc_id
       |)
       |SELECT 'ngram_jaccard' AS tier,
       |       CAST((SELECT count(*) FROM enc) AS BIGINT) AS n_docs,
       |       CAST((SELECT sum(n) FROM sized) AS BIGINT) AS postings_full,
       |       CAST((SELECT count(*) FROM npref) AS BIGINT) AS postings_filtered,
       |       CAST((SELECT count(*) FROM ncand) AS BIGINT) AS candidates,
       |       CAST((SELECT c FROM nsurv) AS BIGINT) AS survivors
       |UNION ALL
       |SELECT 'ngram_jaccard_capped',
       |       CAST((SELECT count(*) FROM enc) AS BIGINT),
       |       CAST((SELECT sum(n) FROM sized) AS BIGINT),
       |       CAST((SELECT count(*) FROM npref p JOIN nkeptpid kp ON p.pid = kp.pid) AS BIGINT),
       |       CAST((SELECT count(*) FROM ncandc) AS BIGINT),
       |       CAST((SELECT c FROM nsurvc) AS BIGINT)
       |UNION ALL
       |SELECT 'containment',
       |       CAST((SELECT count(*) FROM enc) AS BIGINT),
       |       CAST((SELECT sum(n) FROM sized) AS BIGINT),
       |       CAST((SELECT count(*) FROM cpref) AS BIGINT),
       |       CAST((SELECT count(*) FROM ccand) AS BIGINT),
       |       CAST((SELECT c FROM csurv) AS BIGINT)
       |UNION ALL
       |SELECT 'substring',
       |       CAST((SELECT count(*) FROM documents) AS BIGINT),
       |       CAST((SELECT count(*) FROM sel) AS BIGINT),
       |       CAST((SELECT count(*) FROM skept) AS BIGINT),
       |       CAST((SELECT count(*) FROM spair) AS BIGINT),
       |       CAST((SELECT count(*) FROM spair WHERE shared_fp >= $minShared) AS BIGINT)
       |UNION ALL
       |SELECT 'minhash_lsh',
       |       CAST((SELECT count(*) FROM documents) AS BIGINT),
       |       CAST((SELECT count(*) FROM mbands) AS BIGINT),
       |       CAST((SELECT count(*) FROM mb) AS BIGINT),
       |       CAST((SELECT count(*) FROM mpairs) AS BIGINT),
       |       CAST((SELECT count(*) FROM msim WHERE sim >= 0.5) AS BIGINT)
       |UNION ALL
       |SELECT 'minhash_lsh_capped',
       |       CAST((SELECT count(*) FROM documents) AS BIGINT),
       |       CAST((SELECT count(*) FROM mbands) AS BIGINT),
       |       CAST((SELECT count(*) FROM mb WHERE occ <= $autoMaxDfDuck) AS BIGINT),
       |       CAST((SELECT count(*) FROM mpairs WHERE capped_kept = 1) AS BIGINT),
       |       CAST((SELECT count(*) FROM msim WHERE capped_kept = 1 AND sim >= 0.5) AS BIGINT)
       |ORDER BY tier""".stripMargin
  }

  /** df-cap-vs-recall curve for the substring tier — the knob gate
    * [[minhashError]] gives MinHash: per df cap, the postings kept,
    * distinct candidate pairs, and surviving pairs (>= minShared
    * shared fingerprints). Caps are nested (a higher cap keeps a
    * superset of fingerprints, hence of pairs), so
    * n_survivors(cap) / n_survivors(max cap) reads directly as recall
    * vs the most permissive setting — the curve that says whether the
    * cap a corpus auto-resolves to ([[autoMaxDf]]) is buying speed
    * with recall that matters or recall that doesn't.
    *
    * Scale shape: ONE winnow pass and ONE pair join (at the most
    * permissive cap); the per-cap fan-out runs on the (pair, df)
    * aggregate — |pairs| × |caps| rows, never the raw posting join.
    */
  def substringDfCurve(spark: SparkSession, sfDir: String, k: Int = 24,
                       radius: Int = 7, minShared: Int = 2,
                       caps: Seq[Int] = Seq(2, 5, 10, 20, 50)): DataFrame = {
    import spark.implicits._
    require(caps.nonEmpty, "substringDfCurve needs at least one cap")
    val capsArr = array(caps.map(lit(_)): _*)
    val sel = winnowSelected(Tables.documents(spark, sfDir), k, radius)
    val dfs = sel.groupBy($"fp").agg(count(lit(1)).as("df"))
      .where($"df" <= caps.max).transform(BlockHygiene.checkpointTracked)
    val kept = sel.join(dfs, "fp") // (fp, doc_id, df)
    val pairDf = kept.select($"fp", $"df", $"doc_id".as("doc1"))
      .join(kept.select($"fp", $"doc_id".as("doc2")), "fp")
      .where($"doc1" < $"doc2")
      .groupBy($"doc1", $"doc2", $"df").agg(count(lit(1)).as("cnt"))
      // the ×|caps| explode below runs on this aggregate
      .transform(BlockHygiene.checkpointTracked)
    val perCap = pairDf.withColumn("max_df", explode(capsArr))
      .where($"df" <= $"max_df")
      .groupBy($"max_df", $"doc1", $"doc2").agg(sum($"cnt").as("shared_fp"))
    val candAgg = perCap.groupBy($"max_df").agg(
      count(lit(1)).as("n_candidates"),
      sum(when($"shared_fp" >= minShared, 1L).otherwise(0L)).as("n_survivors"))
    val postAgg = dfs.withColumn("max_df", explode(capsArr))
      .where($"df" <= $"max_df")
      .groupBy($"max_df").agg(sum($"df").as("n_postings"))
    caps.toDF("max_df")
      .join(postAgg, Seq("max_df"), "left_outer")
      .join(candAgg, Seq("max_df"), "left_outer")
      .selectExpr("max_df",
        "coalesce(n_postings, cast(0 as bigint)) as n_postings",
        "coalesce(n_candidates, cast(0 as bigint)) as n_candidates",
        "coalesce(n_survivors, cast(0 as bigint)) as n_survivors")
      .orderBy($"max_df")
  }

  /** DuckDB replay of [[substringDfCurve]]. */
  def substringDfCurveOracle(k: Int = 24, radius: Int = 7,
                             minShared: Int = 2,
                             caps: Seq[Int] = Seq(2, 5, 10, 20, 50)): String = {
    require(caps.nonEmpty, "substringDfCurveOracle needs at least one cap")
    val capList = caps.mkString("[", ", ", "]")
    s"""WITH ${substringSelCtes(k, radius)}, sdfs AS (
       |  SELECT fp, count(*) AS df FROM sel GROUP BY 1
       |), keptd AS (
       |  SELECT s.doc_id, s.fp, d.df FROM sel s JOIN sdfs d USING (fp)
       |  WHERE d.df <= ${caps.max}
       |), pairdf AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.df AS df,
       |         count(*) AS cnt
       |  FROM keptd a JOIN keptd b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3
       |), caps AS (
       |  SELECT unnest($capList) AS max_df
       |), percap AS (
       |  SELECT c.max_df, doc1, doc2, CAST(sum(cnt) AS BIGINT) AS shared_fp
       |  FROM pairdf p JOIN caps c ON p.df <= c.max_df GROUP BY 1, 2, 3
       |), cand AS (
       |  SELECT max_df, CAST(count(*) AS BIGINT) AS n_candidates,
       |         CAST(sum(CASE WHEN shared_fp >= $minShared THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_survivors
       |  FROM percap GROUP BY 1
       |), posts AS (
       |  SELECT c.max_df, CAST(sum(d.df) AS BIGINT) AS n_postings
       |  FROM sdfs d JOIN caps c ON d.df <= c.max_df GROUP BY 1
       |)
       |SELECT c.max_df,
       |       CAST(COALESCE(p.n_postings, 0) AS BIGINT) AS n_postings,
       |       CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
       |       CAST(COALESCE(a.n_survivors, 0) AS BIGINT) AS n_survivors
       |FROM caps c LEFT JOIN posts p USING (max_df) LEFT JOIN cand a USING (max_df)
       |ORDER BY max_df""".stripMargin
  }
}
