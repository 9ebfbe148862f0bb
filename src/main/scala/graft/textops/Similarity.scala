package graft.textops

import graft.Tables
import graft.streaming.BlockHygiene
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over `embeddings`
  * (`Array[Float]` column, dim 64).
  *
  * - [[similarityTopK]]: brute-force cosine top-k — the exactness
  *   baseline. All float math is widened to double and folded
  *   left-to-right so Spark and the DuckDB oracle produce bit-identical
  *   doubles (both `aggregate`/`list_reduce` are sequential left folds).
  * - [[similarityIvf]]: IVF-style scale path — assign every vector to
  *   its nearest of C fixed centroids (a broadcast-joinable 16-row
  *   table), then search only within the query's nprobe nearest
  *   cells. At 100 TB the brute-force n² pair join is impossible; the
  *   IVF cell join shuffles each vector once on its cell id.
  *
  * Deterministic end to end (fixed centroid choice, full tie-breakers),
  * so both variants are DuckDB-oracled exactly.
  */
object Similarity {

  /** Signed-random-projection LSH parameters: L tables × b hyperplanes.
    * Hyperplane components are DETERMINISTIC ±1s from an LCG over the
    * (plane, dim) index — generated once ([[lshPlanes]]) and inlined as
    * literals into BOTH the Spark expressions and the DuckDB oracle, so
    * the two engines share the exact hash family by construction.
    * Declared FIRST in the object: [[geomCte]] and the oracle vals
    * below interpolate these, and a plain-val forward reference would
    * silently read 0 during object init.
    */
  private val LshTables = 4
  private val LshBits = 8       // oracle-default bits per table
  private val MaxLshBits = 24   // pool ceiling for the adaptive tier
  private val Dim = 64

  /** Multiprobe budget: T = b probes — the FULL Hamming-1 ring of the
    * adaptive bit count (srp_probes keeps its lowest-|margin|-first
    * order, which stops mattering once T = b: the probe SET is every
    * single-bit flip). At the oracle tier b = 8 this is bit-identical
    * to the fixed T = 8 budget every previous round shipped. The
    * round-10 verdict flagged the fixed budget as the one tier whose
    * quality DECAYED by design at scale — measured recall@5
    * 0.34 → 0.24 per 10× data — because 8 probes cover a shrinking
    * 8/b slice of the Hamming-1 miss modes as b grows with log n
    * (8/10 at the sf0.1 tier's b = 10, 8/13 at sf1's b = 13, and
    * falling). T = b keeps coverage of the dominant miss mode
    * (single-plane disagreement) COMPLETE at every scale for a probe
    * factor that grows only with log n: measured recall per decade is
    * now 0.35 → 0.30 (the residual decay is the ≥2-flip mode, the
    * honest SRP floor) at cost/query ×1.6 per decade —
    * (b+1)·L·occupancy, occupancy pinned ≈ 2 by the bits rule.
    * The pool ceiling moves 16 → 24 bits in the same change: past
    * n ≈ 64k the old ceiling would have pinned b while n grew, taking
    * per-bucket occupancy linear and the bucket join quadratic — a
    * cliff the measured tiers (b = 10, 13) never reached but a decade
    * rehearsal would have. 24 bits holds occupancy ≈ 2 to n = 16M;
    * a 100 TB deploy regenerates the deterministic plane family with
    * a larger pool (two-line rule in [[lshPlanes]]).
    * similarity_recall_lshmp stays the shipped QA gate for the law.
    */
  private[graft] def multiprobeCount(bits: Int): Int = bits

  /** dot(a, b): the native codegen'd VecDot expression — identical
    * sequential left-fold arithmetic to the HOF form
    * `aggregate(zip_with(a, b, *), 0d, +)` (which is CodegenFallback
    * and ~20× slower on the 4M-pair bench), so oracle parity holds
    * bit-for-bit.
    */
  private def dotSpark(a: String, b: String, sfx: String): String =
    s"vec_dot($a, $b)"

  private def dotDuck(a: String, b: String, sfx: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(list_zip($a, $b), zp$sfx -> zp$sfx[1] * zp$sfx[2])), " +
      s"(za$sfx, zb$sfx) -> za$sfx + zb$sfx)"

  /** The vector load every tier and stored-index serve starts from:
    * the `keep` columns, `src` cast to `v: array<double>`, and its norm
    * `nrm`. */
  private[textops] def withNorm(df: DataFrame, src: String,
                                keep: String*): DataFrame =
    df.selectExpr(keep :+ s"cast($src as array<double>) as v": _*)
      .selectExpr(keep :+ "v" :+ s"sqrt(${dotSpark("v", "v", "n")}) as nrm": _*)

  private[textops] def vectors(spark: SparkSession, sfDir: String): DataFrame =
    withNorm(Tables.embeddings(spark, sfDir), "embedding", "vec_id")

  /** DuckDB twin of [[vectors]]: the `e` (cast) and `n` (norm) CTEs. */
  private val vecCtes: String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, sqrt(${dotDuck("v", "v", "n")}) AS nrm FROM e
       |)""".stripMargin

  /** Embedding corpus size — parquet row-group metadata count, one
    * cheap job per query invocation. */
  private def nVecs(spark: SparkSession, sfDir: String): Long =
    Tables.embeddings(spark, sfDir).count()

  /** The QA query panel's modulus: `sampleMod` if positive, else
    * [[autoSampleMod]] of the corpus size. */
  private def panelMod(spark: SparkSession, sfDir: String,
                       sampleMod: Int): Int =
    if (sampleMod > 0) sampleMod else autoSampleMod(nVecs(spark, sfDir))

  /** IVF cell count: `nCentroids` if positive, else [[autoCentroids]]
    * of the corpus size `n` (evaluated only then). */
  private def cellsFor(nCentroids: Int, n: => Long): Int =
    if (nCentroids > 0) nCentroids else autoCentroids(n)

  /** IVF probe width: `nProbe` if positive, else [[autoNProbe]] of the
    * cell count `c` (evaluated only then). */
  private[textops] def probesFor(nProbe: Int, c: => Int): Int =
    if (nProbe > 0) nProbe else autoNProbe(c)

  /** The seeded IVF centroid table: the first `c` vectors of `e`
    * (vec_id < c — deterministic, broadcastable). */
  private[textops] def seededCentroids(e: DataFrame, c: Int): DataFrame =
    e.where(col("vec_id") < c)
      .select(col("vec_id").as("cent_id"), col("v").as("centv"),
        col("nrm").as("centn"))

  /** DuckDB twin of [[seededCentroids]] over the `n` CTE. */
  private def seededCentCte(name: String, c: String = gC): String =
    s"""$name AS (
       |  SELECT vec_id AS cent_id, v AS centv, nrm AS centn FROM n WHERE vec_id < $c
       |)""".stripMargin

  /** The CTE head of every seeded-IVF oracle: `geom`, the vectors
    * `e`/`n` and the seeded centroid table `cent`. */
  private lazy val seededIvfCtes: String =
    s"""$geomCte, $vecCtes, ${seededCentCte("cent")}"""

  /** The CTE head of every trained-IVF oracle: `geom`, `e`/`n`, the
    * seed table `c0` and two unrolled Lloyd rounds ending in the
    * trained centroid table `c2n` ([[trainedCentroids]] at 2 rounds). */
  private lazy val trainedIvfCtes: String =
    s"""$geomCte, $vecCtes, ${seededCentCte("c0")}, """ +
      s"""${lloydRoundCte(1, "c0")}, ${lloydRoundCte(2, "c1n")}"""

  /** DuckDB twin of the IVF cell rank ([[ivfRankedFrom]]): `cols` of
    * every (vector, centroid) pair of `n` × `cent`, plus `csim` if
    * asked, and `crk` by affinity DESC, cent_id ASC. */
  private def rankedCellsCte(cols: String = "vec_id, v, nrm, cent_id",
                             csim: Boolean = false,
                             cent: String = "cent"): String = {
    val csimLine =
      if (csim) s"\n         ${dotDuck("n.v", "c.centv", "s")} / (n.nrm * c.centn) AS csim,"
      else ""
    s"""rankedcells AS (
       |  SELECT $cols,$csimLine
       |         row_number() OVER (PARTITION BY vec_id ORDER BY
       |           ${dotDuck("n.v", "c.centv", "a")} / (n.nrm * c.centn) DESC,
       |           cent_id ASC) AS crk
       |  FROM n CROSS JOIN $cent c
       |)""".stripMargin
  }

  /** Scale-adaptive index parameters. Fixed constants are the classic
    * flip-at-scale trap: C=16 cells over n vectors makes the IVF cell
    * join Θ(n²/C) — fine at the oracle tier, quadratic at 10× (the sf1
    * rehearsal measured exactly that). Every `-1` default below
    * resolves from the corpus size with the standard rules: C ≈ √(n/2)
    * cells (FAISS-style nlist ~ √n), b ≈ log₂n − 1 hyperplanes per LSH
    * table (keeps per-bucket occupancy flat), and a fixed-size QA
    * query panel (~50 queries) for the exact baselines.
    *
    * INVARIANT (pinned by AnalyticsSpec): at the correctness tier
    * (n = 500) these resolve to EXACTLY the constants hardwired in the
    * DuckDB oracles (C=16, b=8, mod=10), so the driver's hash gate
    * compares the same computation it always has, while sf0.1+ gets
    * the scaled index geometry.
    */
  private[graft] def autoCentroids(n: Long): Int =
    math.max(16, math.round(math.sqrt(n / 2.0)).toInt)
  private[graft] def autoBits(n: Long): Int =
    math.min(MaxLshBits,
      math.max(8, math.round(math.log(n.toDouble) / math.log(2.0)).toInt - 1))
  private[graft] def autoSampleMod(n: Long): Int =
    math.max(10, (n / 50L).toInt)

  /** The SAME geometry rules as SQL, so every similarity oracle derives
    * its constants from the data instead of hardwiring the n = 500
    * tier's values (16/6/8/10) — oracle parity is now defined at every
    * SF, not an implicit tier contract. `math.round(x)` on a
    * non-negative double is `floor(x + 0.5)`, mirrored literally; `//`
    * is DuckDB integer division like Scala's `Long./`.
    */
  private[graft] val geomCte: String =
    s"""geom AS (
       |  SELECT c, bits, md, nv,
       |         greatest(6, CAST(floor(c * 0.2 + 0.5) AS BIGINT)) AS np,
       |         CASE WHEN nv <= 65536 THEN 192
       |              WHEN nv <= 4194304 THEN 288 ELSE 384 END AS capa,
       |         CASE WHEN nv <= 65536 THEN 1024
       |              WHEN nv <= 4194304 THEN 1536 ELSE 2048 END AS capp
       |  FROM (
       |    SELECT greatest(16, CAST(floor(sqrt(count(*) / 2.0) + 0.5) AS BIGINT)) AS c,
       |           least($MaxLshBits, greatest(8,
       |             CAST(floor(ln(CAST(count(*) AS DOUBLE)) / ln(2.0) + 0.5) AS BIGINT) - 1)) AS bits,
       |           greatest(10, count(*) // 50) AS md,
       |           count(*) AS nv
       |    FROM embeddings
       |  )
       |)""".stripMargin
  private val gC = "(SELECT c FROM geom)"
  private val gNp = "(SELECT np FROM geom)"
  private val gMod = "(SELECT md FROM geom)"
  private val gBits = "(SELECT bits FROM geom)"
  private val gCapA = "(SELECT capa FROM geom)"
  private val gCapP = "(SELECT capp FROM geom)"

  /** Probe width for the IVF tier: a FIXED ~20 % of the cell count
    * (floor 6). Scaling C with √n while holding nProbe constant
    * silently trades recall for speed: on unstructured (near-uniform)
    * embeddings — IVF's documented worst case, and what the synthetic
    * corpus is — recall@k tracks the probed corpus FRACTION, so
    * nProbe/C must stay roughly constant for quality to survive a
    * scale-up (measured: recall@5 0.48 probing 6/32 cells on sf0.1 vs
    * 0.31 probing 6/100 on sf1). The cost law is equally honest:
    * candidates/query ≈ fraction × n — on structure-free data
    * sublinear ANN with stable recall does not exist; clustered real
    * corpora are where a smaller fraction (and real sublinearity)
    * comes from. Resolves to the oracle constant (6) at every
    * correctness tier (C=16 → 6, C=32 → 6).
    */
  private[graft] def autoNProbe(c: Int): Int =
    math.max(6, math.round(c * 0.2).toInt)

  /** Per-cell candidate-occupancy caps for [[dedupEmbeddingCapped]] —
    * the embedding tier's analog of [[Dedup.autoMaxDf]], but with the
    * opposite growth law, because the blowup it bounds is the opposite
    * kind: LSH bucket occupancy is O(1) for genuine near-dups and Θ(n)
    * only for boilerplate (a linear corpus-relative cap separates
    * them), while IVF cell occupancy grows as Θ(√n) on the assign side
    * and Θ(n·0.2/C·np)=Θ(0.2·n) on the probe side BY GEOMETRY — there
    * is no signal/noise separation to exploit, so any cap that tracks
    * occupancy multiplicatively never binds and the pair scan stays
    * ~0.2·n² (the sf10 decade table's one real quadratic: 166.7 s,
    * 41.8×/decade). The only structural fix is a cap that grows
    * SLOWER than occupancy: a stepped ~log-shaped schedule over
    * power-of-two corpus thresholds (integer comparisons — replays
    * bit-exactly in the DuckDB geom CTE, unlike a float log2), sized
    * so the correctness tiers are provably no-ops (measured occ_max:
    * assign 42/79, probe 204/410 at sf0.01/sf0.1 → ≥2.4× headroom)
    * and the scale tiers bind (sf10: assign mean 632 vs 288, probe
    * mean ~40 k vs 1536 → candidates ≤ C·capA·capP ≈ 140 M vs the
    * uncapped 8×10⁹ — ~√n per decade instead of n²). The recall cost
    * is the documented structure-free-data trade ([[autoNProbe]]):
    * bounded work and scale-stable recall cannot coexist on uniform
    * vectors; the capped tier buys the former, and the uncapped form
    * stays available as the diagnostic exactness anchor.
    */
  private[graft] def autoCapAssign(n: Long): Int =
    if (n <= 65536L) 192 else if (n <= 4194304L) 288 else 384
  private[graft] def autoCapProbe(n: Long): Int =
    if (n <= 65536L) 1024 else if (n <= 4194304L) 1536 else 2048

  /** Brute-force cosine top-k, on a deterministic 1-in-`sampleMod`
    * query sample. The exact all-pairs scan only ever runs as a QA
    * baseline (the serving paths are the IVF/LSH/SQ8 tiers), and a QA
    * baseline doesn't need every query: sampling the query side makes
    * the cost (n/mod)×n instead of n² while staying exactly oracled —
    * the same shape [[similarityRecall]] already uses for its ground
    * truth. `sampleMod = 1` recovers the full n² form when a caller
    * really wants it.
    */
  def similarityTopK(spark: SparkSession, sfDir: String, k: Int = 10,
                     sampleMod: Int = -1): DataFrame =
    rankTopK(exactCandidates(spark, sfDir, panelMod(spark, sfDir, sampleMod)), k)

  /** Every (panel query, other vector) pair with its exact cosine —
    * the query side is the deterministic 1-in-`mod` panel. Feeds the
    * brute-force top-k and every recall gate's ground truth. */
  private def exactCandidates(spark: SparkSession, sfDir: String,
                              mod: Int): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, sfDir)
    val q = e.where($"vec_id" % mod === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val c = e.select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
    q.join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("cosine", expr(s"${dotSpark("qv", "cv", "d")} / (qn * cn)"))
  }

  /** The rank tail every exact-cosine top-k shares: per `query_id`,
    * the `k` best candidates by cosine DESC, then candidate id ASC,
    * numbered `rnk` 1..k (fewer when a query has fewer candidates).
    * `cand` holds `(query_id, <nbr>, cosine)`; the candidate id column
    * `nbr` comes out as `neighbor_id`. Unordered; see [[rankTopK]]. */
  private[graft] def topKPerQuery(cand: DataFrame, k: Int,
                                  nbr: String = "neighbor_id"): DataFrame =
    cand
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col(nbr).asc)))
      .where(col("rnk") <= k)
      .select(col("query_id"), col(nbr).as("neighbor_id"), col("cosine"),
        col("rnk").cast("int").as("rnk"))

  /** [[topKPerQuery]] in presentation order (query_id, rnk). */
  private[graft] def rankTopK(cand: DataFrame, k: Int,
                              nbr: String = "neighbor_id"): DataFrame =
    topKPerQuery(cand, k, nbr).orderBy(col("query_id"), col("rnk"))

  /** DuckDB twin of [[rankTopK]] over a `from(query_id, neighbor_id,
    * cosine)` CTE: the `r` CTE and the final select. */
  private def rankTailSql(from: String, k: String): String =
    s"""r AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rnk
       |  FROM $from
       |)
       |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
       |FROM r WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  def similarityTopKOracle(k: Int = 10, sampleMod: Int = -1): String = {
    val mod = if (sampleMod > 0) sampleMod.toString else gMod
    s"""WITH $geomCte, $vecCtes, p AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         ${dotDuck("a.v", "b.v", "d")} / (a.nrm * b.nrm) AS cosine
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id % $mod = 0
       |), ${rankTailSql("p", k.toString)}""".stripMargin
  }

  /** Shared IVF stage: every vector scored against the C fixed
    * centroids (vec_id < C — deterministic, broadcastable), ranked once
    * per vector, kept to the nProbe head, materialized once
    * (localCheckpoint) so the assign and probe sides don't each
    * recompute the n × C broadcast cross + window sort.
    *
    * Null contract (here, [[ivfRankedNarrow]], [[ivfRankedFrom]]): a
    * row whose `v`/`nrm` is NULL is DROPPED — `ivf_top_cells` returns
    * NULL and `posexplode` emits nothing for it. The pre-fusion
    * windowed form emitted np ranked rows with NULL csim instead; the
    * fused behavior is the sane one for an index (an unscorable vector
    * has no cell), and unreachable today ([[vectors]] builds non-null
    * arrays by transform), but any future nullable caller wanting
    * row preservation must switch to `posexplode_outer` explicitly.
    */
  private def ivfRanked(spark: SparkSession, sfDir: String,
                        nCentroids: Int, nProbe: Int): DataFrame = {
    val c = cellsFor(nCentroids, nVecs(spark, sfDir))
    val e = vectors(spark, sfDir)
    ivfRankedFrom(e, seededCentroids(e, c), probesFor(nProbe, c))
  }

  /** [[ivfRanked]] WITHOUT the vector payload — `(vec_id, cell, csim,
    * crk)` only, same scoring, same checkpoint. The wide form
    * materializes nProbe replicas of every vector (a 63×-at-sf10 write
    * amplification its consumers need because they join pairs in
    * place); a consumer that only needs the CELL GEOMETRY — the capped
    * dedup tier's occupancy windows — checkpoints ~17× fewer bytes and
    * re-attaches vectors from the base table afterwards.
    */
  private def ivfRankedNarrow(spark: SparkSession, sfDir: String,
                              nCentroids: Int, nProbe: Int): DataFrame = {
    val c = cellsFor(nCentroids, nVecs(spark, sfDir))
    val np = probesFor(nProbe, c)
    val e = vectors(spark, sfDir)
    BlockHygiene.checkpointTracked(
      e.crossJoin(flatCentRow(seededCentroids(e, c)))
        .selectExpr("vec_id",
          s"posexplode(ivf_top_cells(v, nrm, cflat, cnorms, cids, $np)) " +
            "as (p0, tc)")
        .selectExpr("vec_id", "tc.cell as cell", "tc.csim as csim",
          "cast(p0 + 1 as int) as crk"))
  }

  /** One-row broadcastable flattening of a centroid table — the
    * [[graft.functions.GraftExpressions.IvfTopCells]] operand:
    * cent_id-sorted ids, the row-major (C × d) flattened matrix, and
    * the norms. C·d doubles ≈ 160 KB at the 200 k-vector tier —
    * broadcast-sized at any corpus the √(n/2) centroid rule yields
    * (2 M vectors → 1 000 × 64 ≈ 512 KB). */
  private[textops] def flatCentRow(cent: DataFrame): DataFrame = {
    import cent.sparkSession.implicits._
    broadcast(cent
      .groupBy()
      .agg(collect_list(struct($"cent_id", $"centv", $"centn")).as("cs"))
      .selectExpr("array_sort(cs) as cs")
      .selectExpr(
        "transform(cs, x -> x.cent_id) as cids",
        "flatten(transform(cs, x -> x.centv)) as cflat",
        "transform(cs, x -> x.centn) as cnorms"))
  }

  /** The assign/probe rank against an arbitrary centroid table —
    * shared by the seeded ([[ivfRanked]]) and k-means-trained
    * ([[similarityIvfTrained]]) index builds. Round 16: the n·C
    * BroadcastNestedLoopJoin + per-vector rank window (which pushed
    * every vector's 64-double payload C times through partial top-np
    * sorts — measured ~99 % of trained-index cost at the 200 k decade)
    * is fused into ONE codegen'd `ivf_top_cells` call per vector over
    * the broadcast flattened matrix; `posexplode` emits the np ranked
    * rows narrowly, bit-identical by construction (same dot fold, same
    * csim arithmetic, same sort semantics — PropertySpec pins it, and
    * every IVF-family DuckDB oracle replays unchanged).
    */
  private[textops] def ivfRankedFrom(e: DataFrame, cent: DataFrame,
                            nProbe: Int): DataFrame = {
    BlockHygiene.checkpointTracked(
      e.crossJoin(flatCentRow(cent))
        .selectExpr("vec_id", "v", "nrm",
          s"posexplode(ivf_top_cells(v, nrm, cflat, cnorms, cids, $nProbe)) " +
            "as (p0, tc)")
        .selectExpr("vec_id", "v", "nrm", "tc.cell as cell",
          "cast(p0 + 1 as int) as crk", "tc.csim as csim"))
  }

  /** The persistable IVF serving index: (centroid table, cell-assigned
    * vectors) under the scale-adaptive default geometry — what
    * [[graft.textops.Pipelines.materializeAnn]] snapshots. */
  private[textops] def ivfServingIndex(spark: SparkSession, sfDir: String,
                                       nCentroids: Int = -1)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val e = vectors(spark, sfDir)
    val cent = seededCentroids(e, cellsFor(nCentroids, nVecs(spark, sfDir)))
    val assign = ivfRankedFrom(e, cent, 1)
      .select($"vec_id", $"v", $"nrm", $"cell")
    (cent, assign)
  }

  /** Lloyd-trained IVF centroids: `rounds` fixed unrolled k-means
    * iterations (assign to nearest centroid by cosine, re-center),
    * seeded by the first C vectors — the FAISS `train()` step the
    * seeded index skips. Engine-exact so DuckDB replays training
    * bit-for-bit: per-(cell,dim) sums run in floor(x·1e6) BIGINT
    * micro-units (order-independent), counts are exact, and the mean
    * divides in the one fixed order sum→/count→/1e6 (the item_rank
    * unrolled-fixed-point and embedding_centroids micro-unit patterns
    * composed). Empty cells keep their previous centroid. Fixed round
    * count, not convergence-tested: at 100 TB each round is one
    * broadcast-assign pass + one (cell,dim)-grain partial-aggregated
    * shuffle — O(C·d) rows — and a data-dependent stopping rule would
    * make the oracle unreplayable.
    */
  private[graft] def trainedCentroids(spark: SparkSession, sfDir: String,
                                      c: Int, rounds: Int): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, sfDir)
    var cent = BlockHygiene.checkpointTracked(seededCentroids(e, c))
    for (_ <- 1 to rounds) {
      // fused argmax assignment (np = 1): no n·C rows, no rank window —
      // the same bit-exact order as the windowed form (ivfRankedFrom)
      val assign = e.crossJoin(flatCentRow(cent))
        .selectExpr(
          "ivf_top_cells(v, nrm, cflat, cnorms, cids, 1)[0].cell as cell",
          "v")
      // mergeable per-cell micro-unit sums (round 16): one map-side
      // partial state of 1+d longs per cell instead of n·d exploded
      // (cell, dim, micro) rows through the exchange — same floor(x·1e6)
      // BIGINT quantization, same cast(S)/n/1e6 mean arithmetic in the
      // same dim order, so trained centroids stay bit-identical to the
      // exploded form (PropertySpec) and to the DuckDB Lloyd replay
      val means = assign
        .groupBy($"cell")
        .agg(graft.functions.VecMicroSumAggregator.vecMicroSum($"v")
          .as("st"))
        .selectExpr("cell as cent_id",
          "transform(slice(st, 2, size(st) - 1), " +
            "s -> cast(s as double) / st[0] / 1000000.0) as newv")
      cent = cent.select($"cent_id", $"centv".as("oldv"))
        .join(means, Seq("cent_id"), "left")
        .selectExpr("cent_id", "coalesce(newv, oldv) as centv")
        .selectExpr("cent_id", "centv",
          s"sqrt(${dotSpark("centv", "centv", "cn")}) as centn")
        .transform(BlockHygiene.checkpointTracked)
    }
    cent
  }

  /** IVF top-k over the k-means-trained index — same probe plan as
    * [[similarityIvf]], better cells: training pulls centroids toward
    * the data's density instead of wherever the first C vectors
    * happened to sit, tightening cell occupancy balance (and, on
    * clustered real embeddings, recall per probed fraction).
    */
  def similarityIvfTrained(spark: SparkSession, sfDir: String, k: Int = 5,
                           nCentroids: Int = -1, nProbe: Int = -1,
                           rounds: Int = 2): DataFrame = {
    val c = cellsFor(nCentroids, nVecs(spark, sfDir))
    val ranked = ivfRankedFrom(vectors(spark, sfDir),
      trainedCentroids(spark, sfDir, c, rounds), probesFor(nProbe, c))
    rankTopK(ivfCandidates(ranked), k, "vec_id")
  }

  /** IVF probe candidates from a ranked-cells table: every probe row
    * `(query_id, cell)` joined with the vectors assigned (crk = 1) to
    * that cell, scored by exact cosine — `(query_id, vec_id, cosine)`
    * for [[rankTopK]]. */
  private def ivfCandidates(ranked: DataFrame): DataFrame = {
    import ranked.sparkSession.implicits._
    val assign = ranked.where($"crk" === 1)
      .select($"vec_id", $"v", $"nrm", $"cell")
    val probes = ranked
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"cell")
    probes.join(assign, "cell")
      .where($"query_id" =!= $"vec_id")
      .withColumn("cosine", expr(s"${dotSpark("qv", "v", "d")} / (qn * nrm)"))
  }

  /** Embedding-cosine near-duplicate pairs: (v1 < v2) with
    * cosine ≥ threshold (0.4 sized to the synthetic near-uniform
    * vectors, whose max pairwise cosine is ~0.51) — the embedding tier
    * of the dedup family, candidate-generated through the IVF cell
    * join: a pair is considered iff one side's assigned cell is among
    * the other side's nProbe nearest cells, then verified with the
    * exact cosine. The n² all-pairs form is quarantined to the
    * brute-force [[similarityTopK]] baseline; this shape shuffles each
    * vector nProbe times on its cell id — the 100 TB path. Approximate
    * by design (a pair whose cells fall outside each other's probe
    * sets is missed); the DuckDB oracle replays the same candidate
    * generation, so the gate stays a hash match.
    */
  def dedupEmbedding(spark: SparkSession, sfDir: String, threshold: Double = 0.4,
                     nCentroids: Int = -1, nProbe: Int = -1): DataFrame = {
    import spark.implicits._
    val ranked = ivfRanked(spark, sfDir, nCentroids, nProbe)
    val assign = ranked.where($"crk" === 1)
      .select($"vec_id", $"v", $"nrm", $"cell")
    val probes = ranked
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"), $"cell")
    probes.join(assign, "cell")
      .where($"qid" =!= $"vec_id")
      .select(least($"qid", $"vec_id").as("vec1"),
        greatest($"qid", $"vec_id").as("vec2"),
        expr(s"${dotSpark("qv", "v", "d")} / (qn * nrm)").as("cosine"))
      .where($"cosine" >= threshold)
      .distinct()
      .orderBy($"vec1", $"vec2")
  }

  val dedupEmbeddingOracle: String =
    s"""WITH $seededIvfCtes, ${rankedCellsCte()}, assign AS (
       |  SELECT vec_id, v, nrm, cent_id AS cell FROM rankedcells WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS qid, v AS qv, nrm AS qn, cent_id AS cell
       |  FROM rankedcells WHERE crk <= $gNp
       |)
       |SELECT DISTINCT least(p.qid, a.vec_id) AS vec1,
       |       greatest(p.qid, a.vec_id) AS vec2,
       |       ${dotDuck("p.qv", "a.v", "d")} / (p.qn * a.nrm) AS cosine
       |FROM probes p JOIN assign a ON p.cell = a.cell AND p.qid <> a.vec_id
       |WHERE ${dotDuck("p.qv", "a.v", "w")} / (p.qn * a.nrm) >= 0.4
       |ORDER BY vec1, vec2""".stripMargin

  /** Occupancy-capped embedding near-dup pairs — [[dedupEmbedding]]
    * with per-cell candidate volume bounded BEFORE pair expansion, the
    * same structural move [[Dedup.minhashLshCapped]] makes at the band
    * stage. Within every IVF cell, both join sides are ranked by
    * centroid affinity (csim DESC, vec_id ASC — the rank the index
    * already computed) and truncated: the assign side keeps its
    * [[autoCapAssign]] core vectors, the probe side its
    * [[autoCapProbe]] strongest probes, so candidates ≤ C·capA·capP
    * regardless of corpus geometry — the uncapped form's ~0.2·n² pair
    * scan on uniform vectors (sf10: 166.7 s, 41.8×/decade) becomes
    * ~√n per decade. Ranking by affinity rather than vec_id is
    * deliberate: near-duplicate vectors have near-identical csim to
    * every centroid, so a dup pair stays inside (or falls outside) a
    * cell's kept core TOGETHER except exactly at the cap boundary —
    * an id-ranked cap would split pairs uniformly at random. A pair is
    * missed iff in every shared probed cell at least one side is
    * outside the kept set; at the correctness tiers the caps exceed
    * every cell's occupancy (measured ≥2.4× headroom — see
    * [[autoCapAssign]]) so output is bit-identical to the uncapped
    * tier (pinned by AnalyticsSpec), and the DuckDB oracle replays the
    * full capped pipeline so the hash gate holds at ANY scale, binding
    * or not. Both rank filters are `row_number() <= k` windows —
    * Spark's WindowGroupLimit rewrites them to map-side per-partition
    * top-k before the cell shuffle, so the cap PRUNES the exchange
    * instead of following it.
    */
  def dedupEmbeddingCapped(spark: SparkSession, sfDir: String,
                           threshold: Double = 0.4, nCentroids: Int = -1,
                           nProbe: Int = -1, capAssign: Int = -1,
                           capProbe: Int = -1): DataFrame = {
    import spark.implicits._
    embeddingCappedPairs(spark, sfDir, threshold, nCentroids, nProbe,
      capAssign, capProbe).orderBy($"vec1", $"vec2")
  }

  /** [[dedupEmbeddingCapped]] WITHOUT the presentation sort — the pair
    * evidence as a consumer (the cluster closure) wants it: feeding the
    * ordered form into a downstream shuffle would pay a full
    * range-exchange sort only to discard it at the next exchange. */
  private[textops] def embeddingCappedPairs(
      spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, nCentroids: Int = -1,
      nProbe: Int = -1, capAssign: Int = -1,
      capProbe: Int = -1): DataFrame = {
    import spark.implicits._
    val n = nVecs(spark, sfDir)
    val c = cellsFor(nCentroids, n)
    val cA = if (capAssign > 0) capAssign else autoCapAssign(n)
    val cP = if (capProbe > 0) capProbe else autoCapProbe(n)
    // The whole index pass runs NARROW — `(vec_id, cell, csim, crk)`,
    // never the 64-double payload: the wide shared index materializes
    // nProbe replicas of every vector (≈7 GB at sf10, and at 100 TB a
    // 63× write amplification), which measured as the dominant cost of
    // the capped tier, not the pair scan. Here the cap windows rank
    // the narrow geometry, the kept key sets are bounded a priori at
    // C·cap rows of two longs, and the vectors are re-attached FROM
    // THE BASE TABLE by broadcast inner joins — each side's wide rows
    // are read once, map-side, and only survivors (≤C·capP, ≤C·capA
    // rows) ever reach the cell exchange of the pair join.
    val narrow = ivfRankedNarrow(spark, sfDir, nCentroids, nProbe)
    val cellW = Window.partitionBy($"cell")
      .orderBy($"csim".desc, $"vec_id".asc)
    val arkKeys = narrow.where($"crk" === 1)
      .withColumn("ark", row_number().over(cellW)).where($"ark" <= cA)
      .select($"vec_id", $"cell")
    val prkKeys = narrow
      .withColumn("prk", row_number().over(cellW)).where($"prk" <= cP)
      .select($"vec_id", $"cell")
    val e = vectors(spark, sfDir)
    // Key-set joins: broadcast while the kept set (≤ C·cap rows of two
    // longs, Θ(√n·cap)) is genuinely small — every measured tier is
    // (sf10: ~1.5 M keys ≈ 24 MB) — but past ~10⁷ vectors the probe
    // key set crosses the hundreds-of-MB line where shipping it to
    // every task stops being the cheap side. Fall back to a plain
    // equi-join there: one linear, hash-partitioned shuffle of the
    // base table, still never a replicated wide index.
    def keyHint(keys: DataFrame, cap: Int): DataFrame =
      if (c.toLong * cap <= 4L * 1000 * 1000) broadcast(keys) else keys
    val assign = e.join(keyHint(arkKeys, cA), "vec_id")
      .select($"vec_id", $"v", $"nrm", $"cell")
    val probes = e.join(keyHint(prkKeys, cP), "vec_id")
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"), $"cell")
    probes.join(assign, "cell")
      .where($"qid" =!= $"vec_id")
      .select(least($"qid", $"vec_id").as("vec1"),
        greatest($"qid", $"vec_id").as("vec2"),
        expr(s"${dotSpark("qv", "v", "d")} / (qn * nrm)").as("cosine"))
      .where($"cosine" >= threshold)
      .distinct()
  }

  /** Shared CTE chain (geom → … → `epairs(vec1, vec2, cosine)`) — the
    * capped embedding pair evidence, reused by the pair query and the
    * cluster closure ([[dedupEmbeddingClustersOracle]]). */
  private[textops] lazy val embeddingCappedPairsCtes: String =
    s"""$seededIvfCtes, ${rankedCellsCte(csim = true)}, assign AS (
       |  SELECT vec_id, v, nrm, cell FROM (
       |    SELECT vec_id, v, nrm, cent_id AS cell,
       |           row_number() OVER (PARTITION BY cent_id
       |             ORDER BY csim DESC, vec_id ASC) AS ark
       |    FROM rankedcells WHERE crk = 1
       |  ) WHERE ark <= $gCapA
       |), probes AS (
       |  SELECT qid, qv, qn, cell FROM (
       |    SELECT vec_id AS qid, v AS qv, nrm AS qn, cent_id AS cell,
       |           row_number() OVER (PARTITION BY cent_id
       |             ORDER BY csim DESC, vec_id ASC) AS prk
       |    FROM rankedcells WHERE crk <= $gNp
       |  ) WHERE prk <= $gCapP
       |), epairs AS (
       |  SELECT DISTINCT least(p.qid, a.vec_id) AS vec1,
       |         greatest(p.qid, a.vec_id) AS vec2,
       |         ${dotDuck("p.qv", "a.v", "d")} / (p.qn * a.nrm) AS cosine
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.qid <> a.vec_id
       |  WHERE ${dotDuck("p.qv", "a.v", "w")} / (p.qn * a.nrm) >= 0.4
       |)""".stripMargin

  val dedupEmbeddingCappedOracle: String =
    s"""WITH $embeddingCappedPairsCtes
       |SELECT vec1, vec2, cosine FROM epairs ORDER BY vec1, vec2""".stripMargin

  /** Cap-recall curve for the occupancy caps — the embedding analog of
    * [[Dedup.substringDfCurve]], completing the knob-gate family:
    * every capped tier ships a query that MEASURES what its cap
    * trades, from one pass. [[autoCapAssign]]'s headroom argument
    * proves the caps are no-ops at the correctness tiers, but on
    * clustered geometry at scale they bind and trade recall for
    * bounded work — and nothing measured how much.
    *
    * One narrow-index pass scores all four NESTED cap levels
    * {cap/4, cap/2, cap, 2·cap} (both sides scaled together): the
    * per-cell affinity windows rank once against the LARGEST level,
    * each key row carries the smallest level admitting it (`la`/`lp`),
    * and a candidate pair's admission level is `min` over shared cells
    * of `greatest(la, lp)` — nesting makes levels cumulative, so
    * survivors-per-level read directly as the recall curve
    * (`n_dup_pairs` at level i over the 2·cap row's). Row i is
    * EXACTLY [[dedupEmbeddingCapped]] run at (capA_i, capP_i) — a
    * pair survives that run iff some shared probed cell admits both
    * sides, which is `lvl <= i` by construction (AnalyticsSpec pins
    * the equality per level with forced-small caps that genuinely
    * bind). `n_candidates` counts distinct examined pairs, the
    * verify-stage volume the caps bound.
    */
  def dedupEmbeddingCappedCurve(spark: SparkSession, sfDir: String,
                                threshold: Double = 0.4,
                                nCentroids: Int = -1, nProbe: Int = -1,
                                capAssign: Int = -1,
                                capProbe: Int = -1): DataFrame = {
    import spark.implicits._
    // explicit caps below 4 would collapse the nested level ladder
    // (capAssign=2 → {1,1,2,4} — duplicate cap_assign rows whose
    // orderBy tie makes cross-engine row order ambiguous); the auto
    // rules never resolve that low, so reject rather than dedupe
    require(capAssign < 0 || capAssign >= 4,
      s"capAssign must be >= 4 for distinct curve levels (got $capAssign)")
    require(capProbe < 0 || capProbe >= 4,
      s"capProbe must be >= 4 for distinct curve levels (got $capProbe)")
    val n = nVecs(spark, sfDir)
    val cA = if (capAssign > 0) capAssign else autoCapAssign(n)
    val cP = if (capProbe > 0) capProbe else autoCapProbe(n)
    val aCaps = Seq(math.max(1, cA / 4), math.max(1, cA / 2), cA, 2 * cA)
    val pCaps = Seq(math.max(1, cP / 4), math.max(1, cP / 2), cP, 2 * cP)
    def lvlExpr(c0: String, caps: Seq[Int]): String =
      s"case when $c0 <= ${caps(0)} then 1 when $c0 <= ${caps(1)} then 2 " +
        s"when $c0 <= ${caps(2)} then 3 else 4 end"
    val narrow = ivfRankedNarrow(spark, sfDir, nCentroids, nProbe)
    val cellW = Window.partitionBy($"cell")
      .orderBy($"csim".desc, $"vec_id".asc)
    val arkKeys = narrow.where($"crk" === 1)
      .withColumn("ark", row_number().over(cellW))
      .where($"ark" <= aCaps.last)
      .selectExpr("vec_id", "cell", s"${lvlExpr("ark", aCaps)} as la")
    val prkKeys = narrow
      .withColumn("prk", row_number().over(cellW))
      .where($"prk" <= pCaps.last)
      .selectExpr("vec_id as qid", "cell", s"${lvlExpr("prk", pCaps)} as lp")
    // pair admission level BEFORE vectors attach: the grouped pair
    // list is bounded by the 2·cap level's C·capA·capP, and cosine is
    // computed once per distinct pair, not once per shared cell
    val pairLvl = prkKeys.join(arkKeys, "cell")
      .where($"qid" =!= $"vec_id")
      .groupBy(least($"qid", $"vec_id").as("vec1"),
        greatest($"qid", $"vec_id").as("vec2"))
      .agg(min(greatest($"la", $"lp")).as("lvl"))
    val e = vectors(spark, sfDir)
    val scored = pairLvl
      .join(e.select($"vec_id".as("vec1"), $"v".as("v1"), $"nrm".as("m1")),
        "vec1")
      .join(e.select($"vec_id".as("vec2"), $"v".as("v2"), $"nrm".as("m2")),
        "vec2")
      .withColumn("cosine", expr(s"${dotSpark("v1", "v2", "cv")} / (m1 * m2)"))
      .select($"lvl", $"cosine")
    val agg = scored
      .withColumn("l", explode(array((1 to 4).map(lit(_)): _*)))
      .where($"lvl" <= $"l")
      .groupBy($"l").agg(count(lit(1)).as("n_candidates"),
        sum(when($"cosine" >= threshold, 1L).otherwise(0L)).as("n_dup_pairs"))
    val capsDf = aCaps.zip(pCaps).zipWithIndex
      .map { case ((a, p), i) => (i + 1, a.toLong, p.toLong) }
      .toDF("l", "cap_assign", "cap_probe")
    capsDf.join(agg, Seq("l"), "left_outer")
      .selectExpr("cap_assign", "cap_probe",
        "coalesce(n_candidates, cast(0 as bigint)) as n_candidates",
        "coalesce(n_dup_pairs, cast(0 as bigint)) as n_dup_pairs")
      .orderBy($"cap_assign")
  }

  /** DuckDB replay of [[dedupEmbeddingCappedCurve]] at the default
    * (geom-derived) caps. */
  val dedupEmbeddingCappedCurveOracle: String =
    s"""WITH $seededIvfCtes, ${rankedCellsCte("vec_id, cent_id", csim = true)}, lv AS (
       |  SELECT greatest(1, capa // 4) AS a1, greatest(1, capa // 2) AS a2,
       |         capa AS a3, capa * 2 AS a4,
       |         greatest(1, capp // 4) AS p1, greatest(1, capp // 2) AS p2,
       |         capp AS p3, capp * 2 AS p4
       |  FROM geom
       |), assign AS (
       |  SELECT vec_id, cell,
       |         CASE WHEN ark <= (SELECT a1 FROM lv) THEN 1
       |              WHEN ark <= (SELECT a2 FROM lv) THEN 2
       |              WHEN ark <= (SELECT a3 FROM lv) THEN 3 ELSE 4 END AS la
       |  FROM (
       |    SELECT vec_id, cent_id AS cell,
       |           row_number() OVER (PARTITION BY cent_id
       |             ORDER BY csim DESC, vec_id ASC) AS ark
       |    FROM rankedcells WHERE crk = 1
       |  ) WHERE ark <= (SELECT a4 FROM lv)
       |), probes AS (
       |  SELECT qid, cell,
       |         CASE WHEN prk <= (SELECT p1 FROM lv) THEN 1
       |              WHEN prk <= (SELECT p2 FROM lv) THEN 2
       |              WHEN prk <= (SELECT p3 FROM lv) THEN 3 ELSE 4 END AS lp
       |  FROM (
       |    SELECT vec_id AS qid, cent_id AS cell,
       |           row_number() OVER (PARTITION BY cent_id
       |             ORDER BY csim DESC, vec_id ASC) AS prk
       |    FROM rankedcells WHERE crk <= $gNp
       |  ) WHERE prk <= (SELECT p4 FROM lv)
       |), pairlvl AS (
       |  SELECT least(p.qid, a.vec_id) AS vec1,
       |         greatest(p.qid, a.vec_id) AS vec2,
       |         min(greatest(p.lp, a.la)) AS lvl
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.qid <> a.vec_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT pl.lvl,
       |         ${dotDuck("n1.v", "n2.v", "d")} / (n1.nrm * n2.nrm) AS cosine
       |  FROM pairlvl pl
       |  JOIN n n1 ON n1.vec_id = pl.vec1
       |  JOIN n n2 ON n2.vec_id = pl.vec2
       |), lvls AS (
       |  SELECT unnest([1, 2, 3, 4]) AS l
       |), curve AS (
       |  SELECT l.l, CAST(count(s.lvl) AS BIGINT) AS n_candidates,
       |         CAST(COALESCE(sum(CASE WHEN s.cosine >= 0.4 THEN 1 ELSE 0 END),
       |           0) AS BIGINT) AS n_dup_pairs
       |  FROM lvls l LEFT JOIN scored s ON s.lvl <= l.l
       |  GROUP BY 1
       |)
       |SELECT CAST(CASE c.l WHEN 1 THEN (SELECT a1 FROM lv)
       |            WHEN 2 THEN (SELECT a2 FROM lv)
       |            WHEN 3 THEN (SELECT a3 FROM lv)
       |            ELSE (SELECT a4 FROM lv) END AS BIGINT) AS cap_assign,
       |       CAST(CASE c.l WHEN 1 THEN (SELECT p1 FROM lv)
       |            WHEN 2 THEN (SELECT p2 FROM lv)
       |            WHEN 3 THEN (SELECT p3 FROM lv)
       |            ELSE (SELECT p4 FROM lv) END AS BIGINT) AS cap_probe,
       |       n_candidates, n_dup_pairs
       |FROM curve c ORDER BY cap_assign""".stripMargin

  /** Semantic near-dup CLUSTERS — connected components over the capped
    * embedding pair graph plus canonical selection: the embedding-tier
    * sibling of [[Dedup.dedupClusters]] and the closure stage of a
    * SemDeDup-style semantic dedup pass (Abbas et al. 2023 keep one
    * document per semantic duplicate group). Pairs alone don't dedupe a
    * corpus, and cosine-threshold relations aren't transitive, so the
    * conservative closure is one keeper per CONNECTED COMPONENT of the
    * pair graph — exactly the contract the MinHash tiers already use,
    * here instantiated over [[dedupEmbeddingCapped]]'s evidence (the
    * capped form: the cluster pass inherits its C·capA·capP candidate
    * bound, so the closure is scale-safe on the same argument).
    * Output: one row per vector — cluster id (min vec_id reachable),
    * component size, keeper flag.
    *
    * Scale shape: [[Dedup.connectedComponents]] — per-round cost is one
    * equi-join + min-agg over the EDGE list (bounded by the capped pair
    * count), never the corpus; isolated vectors bypass the loop.
    * Memory sizing: heap ∝ CAPPED EDGE COUNT (≤ C·capA·capP), not the
    * corpus — see the formula and the measured 16 g/48 g cliff in
    * [[Dedup.connectedComponents]]'s scaladoc before deploying this on
    * clustered geometry.
    */
  def dedupEmbeddingClusters(spark: SparkSession, sfDir: String,
                             threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    Dedup.clusterize(Tables.embeddings(spark, sfDir), "vec_id",
      embeddingCappedPairs(spark, sfDir, threshold).select($"vec1", $"vec2"))
  }

  /** Oracle: transitive closure by recursive CTE (min reachable id =
    * component id) over the same capped pair evidence — the
    * embedding-tier twin of [[Dedup.dedupClustersOracle]]. */
  lazy val dedupEmbeddingClustersOracle: String =
    Dedup.clustersOracle(embeddingCappedPairsCtes,
      Seq(("epairs", "vec1", "vec2")), "embeddings", "vec_id", "vid")

  /** Incremental (batch-vs-base) embedding dedup — the shape a 100 TB
    * embedding-dedup deployment actually runs: the corpus is indexed
    * ONCE (IVF cell assignment, occupancy-capped on the corpus side —
    * the side that grows), and each incoming batch probes its nProbe
    * nearest cells for near-duplicates, never joining base×base. The
    * embedding-tier sibling of [[Dedup.dedupIncremental]], same
    * deterministic 1-in-10 "new" gate (`poly_hash37(vec_id ∥ '-incr')`)
    * and the same per-new-vector verdict columns: keep iff no match in
    * the base or among earlier new vectors, plus the best-matching dup
    * and match count. The cap rule is [[autoCapAssign]] on the base
    * assignment only — the probe side is an incoming batch, small by
    * premise (its candidate volume is |batch|·np·capA, bounded in the
    * corpus). Correctness tiers are cap no-ops; the DuckDB oracle
    * replays the full capped pipeline either way.
    */
  def dedupEmbeddingIncremental(spark: SparkSession, sfDir: String,
                                threshold: Double = 0.4,
                                nCentroids: Int = -1, nProbe: Int = -1,
                                capAssign: Int = -1): DataFrame = {
    import spark.implicits._
    val n = nVecs(spark, sfDir)
    val cA = if (capAssign > 0) capAssign else autoCapAssign(n)
    val newGate = EmbIncrNewGate
    val narrow = ivfRankedNarrow(spark, sfDir, nCentroids, nProbe)
    val cellW = Window.partitionBy($"cell")
      .orderBy($"csim".desc, $"vec_id".asc)
    val arkKeys = narrow.where($"crk" === 1)
      .withColumn("ark", row_number().over(cellW)).where($"ark" <= cA)
      .select($"vec_id", $"cell")
    // probe keys: the NEW vectors' np cells (is_new derives from the
    // id alone, so it gates the narrow geometry directly). No probe
    // cap: the batch is the bounded side by premise. No broadcast
    // hint either — |new|·np grows with the corpus here (the testdata
    // "batch" is a corpus slice); a real deployment's batch frame is
    // small and AQE broadcasts it on its own.
    val probeKeys = narrow.where(expr(newGate)).select($"vec_id", $"cell")
    val e = vectors(spark, sfDir)
    val assign = e.join(broadcast(arkKeys), "vec_id")
      .select($"vec_id".as("oid"), $"v".as("ov"), $"nrm".as("onrm"),
        $"cell", expr(newGate).as("o_new"))
    val probes = e.join(probeKeys, "vec_id")
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"), $"cell")
    embIncrementalVerdictsFrom(
      Tables.embeddings(spark, sfDir).select($"vec_id").where(expr(newGate)),
      probes, assign, threshold)
  }

  /** The deterministic 1-in-10 "new batch" gate the incremental
    * embedding tier judges — the embedding twin of
    * [[Dedup.IncrNewGate]] (same poly-hash family, id-derived so both
    * engines and the stored-serving loop agree without a flag column).
    */
  private[graft] val EmbIncrNewGate: String =
    "poly_hash37(concat(cast(vec_id as string), '-incr')) % 10 = 0"

  /** Verdict assembly shared by the live incremental query and the
    * stored-serving crawl loop (`Pipelines.embDedupIncrementalFrom`) —
    * the embedding twin of [[Dedup.incrementalVerdictsFrom]]. `judged`
    * is the batch id set `(vec_id)`; `probes` the batch's probe rows
    * `(qid, qv, qn, cell)`; `assign` the capped cell cores
    * `(oid, ov, onrm, cell, o_new)` where `o_new` marks rows of the
    * batch itself (intra-batch dups resolve keep-first via
    * `oid < qid`; base rows match unconditionally). One verdict row
    * per judged id: keep ⇔ no match, plus best match and match count.
    */
  private[textops] def embIncrementalVerdictsFrom(
      judged: DataFrame, probes: DataFrame, assign: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    import judged.sparkSession.implicits._
    val matches = probes.join(assign, "cell")
      .where($"qid" =!= $"oid" && (!$"o_new" || $"oid" < $"qid"))
      .select($"qid", $"oid",
        expr(s"${dotSpark("qv", "ov", "d")} / (qn * onrm)").as("cosine"))
      .where($"cosine" >= threshold)
      .distinct()
    Dedup.keepFirstVerdicts(judged, "vec_id", matches, "qid", "cosine")
  }

  lazy val dedupEmbeddingIncrementalOracle: String = {
    val newGate = s"${TextHash.phDuck("CAST(vec_id AS VARCHAR) || '-incr'", "inc", 37)} % 10 = 0"
    s"""WITH $seededIvfCtes, ${rankedCellsCte(csim = true)}, assign AS (
       |  SELECT vec_id AS oid, v AS ov, nrm AS onrm, cell,
       |         ${newGate.replace("vec_id", "oid")} AS o_new
       |  FROM (
       |    SELECT vec_id, v, nrm, cent_id AS cell,
       |           row_number() OVER (PARTITION BY cent_id
       |             ORDER BY csim DESC, vec_id ASC) AS ark
       |    FROM rankedcells WHERE crk = 1
       |  ) WHERE ark <= $gCapA
       |), probes AS (
       |  SELECT vec_id AS qid, v AS qv, nrm AS qn, cent_id AS cell
       |  FROM rankedcells WHERE crk <= $gNp AND ($newGate)
       |), m AS (
       |  SELECT DISTINCT p.qid, a.oid,
       |         ${dotDuck("p.qv", "a.ov", "d")} / (p.qn * a.onrm) AS cosine
       |  FROM probes p JOIN assign a ON p.cell = a.cell
       |    AND p.qid <> a.oid AND (NOT a.o_new OR a.oid < p.qid)
       |  WHERE ${dotDuck("p.qv", "a.ov", "w")} / (p.qn * a.onrm) >= 0.4
       |), best AS (
       |  SELECT qid AS vec_id, oid AS dup_of, cosine AS best_cosine, n_dups
       |  FROM (
       |    SELECT qid, oid, cosine,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY cosine DESC, oid ASC) AS rnk,
       |           count(*) OVER (PARTITION BY qid) AS n_dups
       |    FROM m
       |  ) WHERE rnk = 1
       |)
       |SELECT t.vec_id, b.dup_of IS NULL AS keep,
       |       CAST(COALESCE(b.n_dups, 0) AS BIGINT) AS n_dups,
       |       b.dup_of, b.best_cosine
       |FROM (SELECT vec_id FROM embeddings WHERE $newGate) t
       |LEFT JOIN best b ON t.vec_id = b.vec_id
       |ORDER BY t.vec_id""".stripMargin
  }

  /** Semantic (embedding-space) decontamination: per TRAIN vector, the
    * best-matching frozen EVAL vector and whether that cosine crosses
    * the leak threshold — the embedding-tier counterpart of the
    * shingle-based `decontamination` (paraphrased leakage shares no
    * n-gram with its source but lands next to it in embedding space,
    * so the n-gram pass alone under-reports contamination).
    *
    * Split: `vec_id % mod == 0` is the eval panel (the same
    * deterministic 1-in-mod panel the recall gates use), the rest is
    * the train corpus. A real pipeline's eval side is a fixed
    * benchmark — SMALL and frozen — so the scalable plan is exact,
    * not ANN: broadcast the O(n/mod)-row eval table, score every
    * train vector in a narrow map (BroadcastNestedLoopJoin), and
    * collapse to the best match with a map-side partial max BEFORE
    * the train-keyed exchange (max over a (cosine, −eval_id) struct —
    * same tie-break as the oracle's cosine DESC, eval_id ASC rank).
    * At 100 TB: one ~MB broadcast + one narrow pass + a
    * partial-aggregated max; train vectors never shuffle pairwise and
    * there is no recall caveat to gate — unlike the self-kNN tiers,
    * contamination screening against a bounded eval set is linear by
    * construction.
    */
  def embeddingDecontamination(spark: SparkSession, sfDir: String,
                               threshold: Double = 0.4,
                               evalMod: Int = -1): DataFrame = {
    import spark.implicits._
    val mod = panelMod(spark, sfDir, evalMod)
    val e = vectors(spark, sfDir)
    val eval = e.where($"vec_id" % mod === 0)
      .select($"vec_id".as("eval_id"), $"v".as("evv"), $"nrm".as("en"))
    val train = e.where($"vec_id" % mod =!= 0)
      .select($"vec_id".as("train_id"), $"v".as("tv"), $"nrm".as("tn2"))
    train.join(broadcast(eval), expr("true"))
      .withColumn("cosine", expr(s"${dotSpark("tv", "evv", "d")} / (tn2 * en)"))
      .groupBy($"train_id")
      .agg(max(struct($"cosine", (-$"eval_id").as("neg_eval"))).as("best"))
      .select($"train_id", (-$"best.neg_eval").as("eval_id"),
        $"best.cosine".as("cosine"),
        ($"best.cosine" >= threshold).as("contaminated"))
      .orderBy($"train_id")
  }

  def embeddingDecontaminationOracle(threshold: Double = 0.4): String =
    s"""WITH $geomCte, $vecCtes, ev AS (
       |  SELECT vec_id AS eval_id, v AS evv, nrm AS en
       |  FROM n WHERE vec_id % $gMod = 0
       |), tr AS (
       |  SELECT vec_id AS train_id, v AS tv, nrm AS tn2
       |  FROM n WHERE vec_id % $gMod <> 0
       |), scored AS (
       |  SELECT t.train_id, e2.eval_id,
       |         ${dotDuck("t.tv", "e2.evv", "d")} / (t.tn2 * e2.en) AS cosine
       |  FROM tr t CROSS JOIN ev e2
       |), best AS (
       |  SELECT train_id, eval_id, cosine,
       |         row_number() OVER (PARTITION BY train_id
       |                            ORDER BY cosine DESC, eval_id ASC) AS r
       |  FROM scored
       |)
       |SELECT train_id, eval_id, cosine,
       |       cosine >= $threshold AS contaminated
       |FROM best WHERE r = 1 ORDER BY train_id""".stripMargin

  /** Corpus-spectrum measurement: the exact 64×64 covariance moment
    * table of the embedding corpus, upper triangle — the decision
    * instrument the round-13 separating-geometry law calls for
    * (BASELINE "ganiso" close): residual-trained PQ separates from
    * seeded PQ exactly when the corpus' dominant variance directions
    * are GLOBALLY aligned, i.e. when the top few eigenvalues of this
    * matrix carry most of the trace. Deployment rule: run this once
    * per corpus; if share(top-4 eigenvalues) ≫ 4/64 (the isotropic
    * floor — per-tier measurements in BASELINE.md "Corpus spectrum"),
    * build the trained/residual IVFADC index
    * ([[graft.textops.Pipelines]] `materializePq` residual=true);
    * else spend the same budget on a wider re-rank pool. Eigenvalues come from the driver-side 64×64
    * Jacobi pass ([[spectrumShares]] / [[spectrumTopShares]]) — the
    * QUERY stays a single bounded partial aggregate so the gate is a
    * hash match: per dimension pair (i ≤ j), exact integer micro-unit
    * moments (Σxᵢxⱼ, Σxᵢ, Σxⱼ in 10⁻⁶ units — products ≤ 10¹² per row,
    * sums < 2⁶³ to ~9×10⁶ vectors; a 100 TB corpus drops the micro
    * scale a digit per 100×) and the derived double covariance.
    *
    * Scale shape: vectors never shuffle — the pair explode feeds a
    * hash aggregate with 2 080 groups, so map-side partial agg
    * collapses each partition to ≤2 080 rows before the one exchange;
    * cost is one corpus pass regardless of n.
    */
  def embeddingSpectrum(spark: SparkSession, sfDir: String): DataFrame =
    momentAgg(Tables.embeddings(spark, sfDir)
      .selectExpr("transform(cast(embedding as array<double>), " +
        "x -> cast(floor(x * 1000000) as bigint)) as m"))

  /** The exact covariance pair-moment aggregate over an integer
    * micro-unit vector column `m` — shared tail of the raw and
    * residual spectrum queries.
    *
    * One narrow pass through the mergeable
    * [[graft.functions.MomentAgg]] state (n, per-dim sums S, pair
    * sums P — O(d²) longs, map-side partial) instead of the explode
    * formulation, which materialized d(d+1)/2 CodegenFallback struct
    * rows PER VECTOR (416 M operator rows at the 200 k tier) before
    * the hash agg collapsed them: every group statistic is derivable
    * from the state (sxy = P[i,j], sxi = S[i], sxj = S[j], n = count),
    * and integer sums are order-free, so the finished table — built
    * driver-side from the one 16 KB state, the documented
    * driver/cluster split of [[spectrumShares]] — is bit-identical to
    * the explode form (PropertySpec pins the equivalence) and the
    * DuckDB oracle replay. The cov double arithmetic below is
    * byte-for-byte the old expression, evaluated on the same integers.
    */
  private[graft] def momentAgg(withM: DataFrame): DataFrame = {
    val spark = withM.sparkSession
    import spark.implicits._
    val state = withM
      .select(graft.functions.MomentAggregator.moments(col("m")).as("s"))
      .as[Array[Long]].head()
    val rows =
      if (state.isEmpty) Seq.empty[(Int, Int, Long, Long, Long, Long)]
      else {
        val n = state(0)
        val d = state(1).toInt
        for {
          i <- 0 until d
          j <- i until d
        } yield {
          val idx = 2 + d + (i * (2 * d - i + 1)) / 2 + (j - i)
          (i, j, n, state(idx), state(2 + i), state(2 + j))
        }
      }
    rows.toDF("dim_i", "dim_j", "n", "sxy", "sxi", "sxj")
      .selectExpr("cast(dim_i as int) as dim_i", "cast(dim_j as int) as dim_j",
        "n", "sxy", "sxi", "sxj",
        "(cast(sxy as double) / n - (cast(sxi as double) / n) " +
          "* (cast(sxj as double) / n)) / 1000000.0 / 1000000.0 as cov")
      .orderBy($"dim_i", $"dim_j")
  }

  /** The spectrum of the RESIDUAL v − nearest-centroid — the matrix
    * the trained/residual-PQ decision actually needs. The raw corpus
    * spectrum ([[embeddingSpectrum]]) conflates CENTER geometry with
    * residual geometry: any clustered corpus shows an elevated top-k
    * share from the between-cluster covariance of its centers alone
    * (measured: clustered 0.158 vs per-cluster-aniso 0.152 at sf1 —
    * statistically the same corpus to the raw spectrum, yet the r13
    * law says neither benefits from residual PQ). After subtracting
    * each vector's nearest seeded centroid (the same crk=1 assignment
    * every IVF tier uses), the center term vanishes and what remains
    * is exactly the distribution the PQ codebook must quantize:
    * globally-aligned low-rank noise survives the subtraction,
    * per-cluster-random directions superpose to isotropy, isotropic
    * clusters keep only a center-recovery floor. Measured at the sf1
    * tiers (trained assignment, share(top-4)): ganiso **0.540** vs
    * clustered 0.209 / per-cluster-aniso 0.185 / uniform 0.071 — the
    * three non-separating geometries cluster below ~0.21 and the one
    * where residual PQ pays sits at 0.54, hence the 0.35 decision
    * boundary (BASELINE.md "Corpus spectrum").
    * Residual micro-units are differences of floors — integer-exact
    * in both engines, |r| ≤ 2·10⁶ so pair products stay ≪ 2⁶³.
    */
  def embeddingSpectrumResidual(spark: SparkSession, sfDir: String,
                                nCentroids: Int = -1,
                                rounds: Int = 2): DataFrame = {
    import spark.implicits._
    val c = cellsFor(nCentroids, nVecs(spark, sfDir))
    val e = vectors(spark, sfDir)
    // TRAINED centroids, not seeded: the decision is about the index
    // you would build (IVFADC trains its coarse quantizer), and seeded
    // centroids leak center geometry into the residual — with C ≈
    // cluster count, ~1/e of clusters draw NO seeded centroid
    // (Poisson), so their vectors subtract a NEIGHBOR cluster's
    // centroid and the center difference re-enters the spectrum
    // (measured under the seeded assignment: clustered residual
    // share(top4) 0.159 ≈ its raw 0.158 — no separation; per-tier
    // trained-residual shares in BASELINE's spectrum table)
    val cent = trainedCentroids(spark, sfDir, c, rounds)
    // fused argmax assignment; the winning centroid VECTOR re-attaches
    // through a C-row broadcast equi-join on the cell id (narrow — the
    // n·C row stream the windowed form shuffled never exists)
    val near = e.crossJoin(flatCentRow(cent))
      .selectExpr("vec_id", "v",
        "ivf_top_cells(v, nrm, cflat, cnorms, cids, 1)[0].cell as cell")
      .join(broadcast(cent.select($"cent_id".as("cell"), $"centv")), "cell")
      .selectExpr("vec_id",
        "zip_with(v, centv, (x, cc) -> cast(floor(x * 1000000) as bigint) " +
          "- cast(floor(cc * 1000000) as bigint)) as m")
    momentAgg(near)
  }

  lazy val embeddingSpectrumResidualOracle: String =
    s"""WITH $trainedIvfCtes, rankedcells AS (
       |  SELECT n.vec_id, n.v, c.centv,
       |         row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |           ${dotDuck("n.v", "c.centv", "a")} / (n.nrm * c.centn) DESC,
       |           c.cent_id ASC) AS crk
       |  FROM n CROSS JOIN c2n c
       |), mm AS (
       |  SELECT list_transform(list_zip(v, centv), zr ->
       |           CAST(floor(zr[1] * 1000000) AS BIGINT)
       |           - CAST(floor(zr[2] * 1000000) AS BIGINT)) AS m
       |  FROM rankedcells WHERE crk = 1
       |), pairs AS (
       |  SELECT unnest(flatten(list_transform(m, (xi, i) ->
       |    list_transform(m[i:], (xj, j) ->
       |      struct_pack(di := i - 1, dj := i + j - 2, p := xi * xj,
       |                  xi := xi, xj := xj))))) AS e
       |  FROM mm
       |), agg AS (
       |  SELECT e.di AS dim_i, e.dj AS dim_j, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(e.p) AS BIGINT) AS sxy,
       |         CAST(sum(e.xi) AS BIGINT) AS sxi,
       |         CAST(sum(e.xj) AS BIGINT) AS sxj
       |  FROM pairs GROUP BY 1, 2
       |)
       |SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
       |       n, sxy, sxi, sxj,
       |       (CAST(sxy AS DOUBLE) / n - (CAST(sxi AS DOUBLE) / n)
       |          * (CAST(sxj AS DOUBLE) / n)) / 1000000.0 / 1000000.0 AS cov
       |FROM agg ORDER BY dim_i, dim_j""".stripMargin

  val embeddingSpectrumOracle: String =
    """WITH mm AS (
      |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(floor(x * 1000000) AS BIGINT)) AS m
      |  FROM embeddings
      |), pairs AS (
      |  SELECT unnest(flatten(list_transform(m, (xi, i) ->
      |    list_transform(m[i:], (xj, j) ->
      |      struct_pack(di := i - 1, dj := i + j - 2, p := xi * xj,
      |                  xi := xi, xj := xj))))) AS e
      |  FROM mm
      |), agg AS (
      |  SELECT e.di AS dim_i, e.dj AS dim_j, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(e.p) AS BIGINT) AS sxy,
      |         CAST(sum(e.xi) AS BIGINT) AS sxi,
      |         CAST(sum(e.xj) AS BIGINT) AS sxj
      |  FROM pairs GROUP BY 1, 2
      |)
      |SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
      |       n, sxy, sxi, sxj,
      |       (CAST(sxy AS DOUBLE) / n - (CAST(sxi AS DOUBLE) / n)
      |          * (CAST(sxj AS DOUBLE) / n)) / 1000000.0 / 1000000.0 AS cov
      |FROM agg ORDER BY dim_i, dim_j""".stripMargin

  /** Eigenvalue shares of a symmetric covariance matrix — the
    * driver-side half of [[embeddingSpectrum]] (a 64×64 cyclic Jacobi
    * pass is microseconds; the cluster computes the moments, the
    * driver the spectrum). Returns share(top-k) = (Σ largest k
    * eigenvalues) / trace for each requested k. Classic cyclic Jacobi
    * rotations (Golub & Van Loan §8.5): annihilate each off-diagonal
    * pair per sweep until the off-diagonal Frobenius mass is < 10⁻¹²
    * of the total, which for a 64×64 covariance converges in ≤ ~10
    * sweeps.
    */
  private[graft] def spectrumShares(cov: Array[Array[Double]],
                                    ks: Seq[Int]): Map[Int, Double] = {
    val d = cov.length
    val a = Array.tabulate(d, d)((i, j) => cov(i)(j))
    def offNorm2 = {
      var s = 0.0
      for (i <- 0 until d; j <- 0 until d if i != j) s += a(i)(j) * a(i)(j)
      s
    }
    val tot2 = {
      var s = 0.0
      for (i <- 0 until d; j <- 0 until d) s += a(i)(j) * a(i)(j)
      s max Double.MinPositiveValue
    }
    var sweep = 0
    while (sweep < 50 && offNorm2 > 1e-24 * tot2) {
      for (p <- 0 until d - 1; q <- p + 1 until d if math.abs(a(p)(q)) > 0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        // tan of the annihilating angle; theta == 0 → 45° rotation,
        // |theta| == ∞ (a(p)(q) denormal vs huge diagonal gap) → the
        // quotient underflows to 0 and the rotation is the identity —
        // both limits fall out of the same expression
        val raw = math.signum(theta) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val t = if (raw == 0.0 && theta == 0.0) 1.0 else raw
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
      }
      sweep += 1
    }
    val eig = (0 until d).map(i => a(i)(i)).sortBy(-_)
    val trace = eig.sum max Double.MinPositiveValue
    ks.map(k => k -> eig.take(k).sum / trace).toMap
  }

  /** [[embeddingSpectrum]] collected into the dense symmetric matrix +
    * [[spectrumShares]] — what the separation spec runs. The collect
    * is 2 080 rows, not the corpus.
    */
  def spectrumTopShares(spark: SparkSession, sfDir: String,
                        ks: Seq[Int] = Seq(1, 2, 4, 8),
                        residual: Boolean = false): Map[Int, Double] = {
    val moments = if (residual) embeddingSpectrumResidual(spark, sfDir)
                  else embeddingSpectrum(spark, sfDir)
    val rows = moments.selectExpr("dim_i", "dim_j", "cov").collect()
    val d = rows.iterator.map(_.getInt(1)).max + 1
    val cov = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    spectrumShares(cov, ks)
  }

  /** IVF-bucketed ANN: C=16 fixed centroids (vec_id < 16), every vector
    * assigned to its nearest centroid cell, queries probe their nProbe
    * nearest cells (default 6: the synthetic embeddings are near-uniform
    * random — IVF's worst case; clustered real data needs fewer probes) and rank candidates by exact cosine. Returns top-5
    * per query from the probed cells.
    */
  def similarityIvf(spark: SparkSession, sfDir: String, k: Int = 5,
                    nCentroids: Int = -1, nProbe: Int = -1): DataFrame =
    rankTopK(ivfCandidates(ivfRanked(spark, sfDir, nCentroids, nProbe)), k, "vec_id")

  val similarityIvfOracle: String =
    s"WITH $seededIvfCtes, ${ivfTopKSql("cent")}"

  /** DuckDB twin of [[ivfCandidates]] + [[rankTopK]] (k = 5) against
    * the centroid CTE `cent`: `scored` → `rankedcells` → `assign` /
    * `probes` → `cand` → the rank tail. */
  private def ivfTopKSql(cent: String): String =
    s"""scored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
       |         ${dotDuck("n.v", "c.centv", "a")} / (n.nrm * c.centn) AS csim
       |  FROM n CROSS JOIN $cent c
       |), rankedcells AS (
       |  SELECT vec_id, v, nrm, cent_id, csim,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY csim DESC, cent_id ASC) AS crk
       |  FROM scored
       |), assign AS (
       |  SELECT vec_id, v, nrm, cent_id AS cell FROM rankedcells WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cent_id AS cell
       |  FROM rankedcells WHERE crk <= $gNp
       |), cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${dotDuck("p.qv", "a.v", "d")} / (p.qn * a.nrm) AS cosine
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.query_id <> a.vec_id
       |), ${rankTailSql("cand", "5")}""".stripMargin

  /** One unrolled Lloyd round as a DuckDB CTE block (`a$r` assign →
    * `s$r` micro-unit sums → `m$r` means → `c$r`/`c${r}n` new centroid
    * table) — shared by the trained-IVF and cell-stats oracles. */
  private def lloydRoundCte(r: Int, prev: String): String =
      s"""a$r AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT n.vec_id, n.v, c.cent_id AS cell,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY ${dotDuck("n.v", "c.centv", s"tr$r")} / (n.nrm * c.centn) DESC,
         |               c.cent_id ASC) AS crk
         |    FROM n CROSS JOIN $prev c
         |  ) WHERE crk = 1
         |), s$r AS (
         |  SELECT cell, CAST(g.k AS INT) AS dim,
         |         sum(CAST(floor(v[CAST(g.k AS INT) + 1] * 1000000) AS BIGINT)) AS sq,
         |         count(*) AS cnt
         |  FROM a$r CROSS JOIN range(64) g(k)
         |  WHERE g.k < len(v)
         |  GROUP BY 1, 2
         |), m$r AS (
         |  SELECT cell AS cent_id,
         |         list(CAST(sq AS DOUBLE) / cnt / 1000000.0 ORDER BY dim) AS newv
         |  FROM s$r GROUP BY cell
         |), c$r AS (
         |  SELECT p.cent_id, COALESCE(m$r.newv, p.centv) AS centv
         |  FROM $prev p LEFT JOIN m$r ON p.cent_id = m$r.cent_id
         |), c${r}n AS (
         |  SELECT cent_id, centv,
         |         sqrt(${dotDuck("centv", "centv", s"cn$r")}) AS centn
         |  FROM c$r
         |)""".stripMargin

  /** DuckDB replay of [[similarityIvfTrained]]: the two Lloyd rounds
    * unroll into assign/sum/mean/coalesce/norm CTE blocks (the
    * item_rank unrolled-iteration idiom), then the standard IVF
    * rankedcells/probe/top-k tail runs against the trained table.
    */
  lazy val similarityIvfTrainedOracle: String =
    s"WITH $trainedIvfCtes, ${ivfTopKSql("c2n")}"

  /** Cell-occupancy balance telemetry for the IVF index — the ANN
    * analog of [[Dedup.dedupCandidateStats]]: one row per index
    * variant (seeded first-C vs k-means-trained), with the occupancy
    * distribution of the C cells. At 100 TB occupancy balance IS the
    * cost model — probe cost ≈ Σ occupancy over probed cells, so a
    * hot cell (occ ≫ n/C) concentrates compute and skew risk, and the
    * seeded→trained delta in `occ_max`/`hot_cells` is the measured
    * justification for the train() step the serving index takes. All
    * columns integer-exact except `occ_avg` (one fixed n/C division);
    * `hot_cells` counts cells above 2·⌊n/C⌋.
    */
  def similarityCellStats(spark: SparkSession, sfDir: String,
                          nCentroids: Int = -1, rounds: Int = 2): DataFrame = {
    import spark.implicits._
    val n = nVecs(spark, sfDir)
    val c = cellsFor(nCentroids, n)
    val hotT = 2L * (n / c)
    val e = vectors(spark, sfDir)
    def statsOf(label: String, cent: DataFrame): DataFrame =
      ivfRankedFrom(e, cent, 1)
        .groupBy($"cell").agg(count(lit(1)).as("occ"))
        .agg(count(lit(1)).as("cells_used"), sum($"occ").as("n_assigned"),
          min($"occ").as("occ_min"), max($"occ").as("occ_max"),
          sum(when($"occ" > hotT, 1L).otherwise(0L)).as("hot_cells"))
        .selectExpr(s"'$label' as index_variant", s"cast($c as int) as n_cells",
          "cells_used", "n_assigned", "occ_min", "occ_max",
          s"cast(n_assigned as double) / $c as occ_avg", "hot_cells")
    statsOf("ivf_seeded", seededCentroids(e, c))
      .unionAll(statsOf("ivf_trained", trainedCentroids(spark, sfDir, c, rounds)))
      .orderBy($"index_variant")
  }

  /** DuckDB replay of [[similarityCellStats]] — seeded assignment +
    * the shared 2-round Lloyd chain, occupancy aggregated per cell;
    * geometry and the hot threshold derive from the corpus. */
  lazy val similarityCellStatsOracle: String = {
    def occCte(name: String, cents: String, sfx: String): String =
      s"""$name AS (
         |  SELECT cell, count(*) AS occ FROM (
         |    SELECT vec_id, cent_id AS cell FROM (
         |      SELECT n.vec_id, c.cent_id,
         |             row_number() OVER (PARTITION BY n.vec_id
         |               ORDER BY ${dotDuck("n.v", "c.centv", sfx)} / (n.nrm * c.centn)
         |                 DESC, c.cent_id ASC) AS crk
         |      FROM n CROSS JOIN $cents c
         |    ) WHERE crk = 1
         |  ) GROUP BY cell
         |)""".stripMargin
    val hotT = s"2 * ((SELECT count(*) FROM embeddings) // $gC)"
    def statsRow(label: String, occ: String): String =
      s"""SELECT '$label' AS index_variant, CAST($gC AS INT) AS n_cells,
         |       CAST(count(*) AS BIGINT) AS cells_used,
         |       CAST(sum(occ) AS BIGINT) AS n_assigned,
         |       CAST(min(occ) AS BIGINT) AS occ_min,
         |       CAST(max(occ) AS BIGINT) AS occ_max,
         |       CAST(CAST(sum(occ) AS BIGINT) AS DOUBLE) / $gC AS occ_avg,
         |       CAST(sum(CASE WHEN occ > $hotT THEN 1 ELSE 0 END) AS BIGINT)
         |         AS hot_cells
         |FROM $occ""".stripMargin
    s"""WITH $trainedIvfCtes,
       |${occCte("occs", "c0", "os")},
       |${occCte("occt", "c2n", "ot")}
       |${statsRow("ivf_seeded", "occs")}
       |UNION ALL
       |${statsRow("ivf_trained", "occt")}
       |ORDER BY index_variant""".stripMargin
  }

  // --------------------------------------------- int8 scalar quantization

  /** IVF + int8 scalar-quantized scoring with exact re-rank — the
    * memory-bandwidth scale technique stacked on the IVF pruning path:
    * at 100 TB the candidate scoring pass reads 1 byte/dim instead of
    * 4–8, and only the k survivors per query are re-read at full
    * precision for the exact cosine.
    *
    * Quantization is per-vector symmetric: scale s = max|v_i|,
    * q_i = floor(v_i·127/s) ∈ [-127, 127]. `floor` (not `round`) so
    * both engines agree bit-for-bit; the quantized dot is exact integer
    * arithmetic inside doubles (|Σ q_i q_j| ≤ 64·127² ≪ 2^53), and the
    * approx cosine rescales it by s₁s₂/(127²·‖v₁‖‖v₂‖). Candidates are
    * RANKED by the approx score (that's the point — the cheap score
    * decides the top-k), then the exact cosine rides along for the
    * survivors.
    */
  def similaritySq8(spark: SparkSession, sfDir: String, k: Int = 5,
                    nCentroids: Int = -1, nProbe: Int = -1): DataFrame = {
    import spark.implicits._
    val n = nVecs(spark, sfDir)
    val c = cellsFor(nCentroids, n)
    val np = probesFor(nProbe, c)
    val e = vectors(spark, sfDir)
    // Round 18 (guide §8): the old form rode the FULL vector (and
    // computed the quantization lambdas once per join branch) through
    // the cell join and the rank window, because the exact re-rank
    // cosine was computed before the rank filter pruned anything:
    // ~1M candidate rows × (v + q on both sides) at sf0.1 fed the
    // WindowGroupLimit's partial sort. The candidate RANKING only
    // needs the quantized codes — that is the point of SQ8 — so:
    // quantize scan-side, checkpoint (vec_id, nrm, s, q, cell, crk)
    // with no full vector (same floor/127 arithmetic, computed once),
    // rank on the approx score, and re-attach the full vectors for the
    // ≤ n·k SURVIVORS only (broadcast below ~100 k vectors, shuffled
    // equi-joins beyond — the verifyIntersect flip). The approx score,
    // the window spec, and the exact cosine expression are unchanged,
    // so the output is bit-identical.
    val qtab = BlockHygiene.checkpointTracked(
      e.selectExpr("vec_id", "nrm", "v",
          "array_max(transform(v, xa -> abs(xa))) as s")
        .selectExpr("vec_id", "nrm", "v", "s",
          "cast(transform(v, xq -> floor((xq * 127D) / s)) as array<double>) as q")
        .crossJoin(flatCentRow(seededCentroids(e, c)))
        .selectExpr("vec_id", "nrm", "s", "q",
          s"posexplode(ivf_top_cells(v, nrm, cflat, cnorms, cids, $np)) " +
            "as (p0, tc)")
        .selectExpr("vec_id", "nrm", "s", "q", "tc.cell as cell",
          "cast(p0 + 1 as int) as crk"))
    val assign = qtab.where($"crk" === 1)
      .select($"vec_id", $"nrm", $"s", $"q", $"cell")
    val probes = qtab
      .select($"vec_id".as("query_id"), $"nrm".as("qn"),
        $"s".as("qs"), $"q".as("qq"), $"cell")
    val survivors = probes.join(assign, "cell")
      .where($"query_id" =!= $"vec_id")
      .withColumn("approx_cosine",
        expr(s"(${dotSpark("qq", "q", "i")} * (qs * s)) / ((qn * nrm) * 16129D)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"approx_cosine".desc, $"vec_id".asc)))
      .where($"rnk" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"approx_cosine",
        $"qn", $"nrm", $"rnk")
    val qvs = e.select($"vec_id".as("query_id"), $"v".as("qv"))
    val cvs = e.select($"vec_id".as("neighbor_id"), $"v".as("cv"))
    val small = n <= Dedup.BroadcastReattachMaxVecs
    survivors
      .join(if (small) broadcast(qvs) else qvs, "query_id")
      .join(if (small) broadcast(cvs) else cvs, "neighbor_id")
      // exact re-rank column: full-precision cosine for survivors only
      .withColumn("cosine", expr(s"${dotSpark("qv", "cv", "d")} / (qn * nrm)"))
      .select($"query_id", $"neighbor_id", $"approx_cosine",
        $"cosine", $"rnk".cast("int").as("rnk"))
      .orderBy($"query_id", $"rnk")
  }

  val similaritySq8Oracle: String =
    s"""WITH $seededIvfCtes, ${rankedCellsCte()}, scaled AS (
       |  SELECT vec_id, v, nrm, cent_id, crk,
       |         list_max(list_transform(v, xa -> abs(xa))) AS s
       |  FROM rankedcells
       |), qt AS (
       |  SELECT vec_id, v, nrm, cent_id, crk, s,
       |         list_transform(v, xq -> CAST(floor((xq * CAST(127 AS DOUBLE)) / s) AS DOUBLE)) AS q
       |  FROM scaled
       |), assign AS (
       |  SELECT vec_id, v, nrm, s, q, cent_id AS cell FROM qt WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn, s AS qs, q AS qq,
       |         cent_id AS cell
       |  FROM qt WHERE crk <= $gNp
       |), cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, p.qv, p.qn, a.v, a.nrm,
       |         (${dotDuck("p.qq", "a.q", "i")} * (p.qs * a.s))
       |           / ((p.qn * a.nrm) * CAST(16129 AS DOUBLE)) AS approx_cosine
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.query_id <> a.vec_id
       |), r AS (
       |  SELECT query_id, neighbor_id, qv, qn, v, nrm, approx_cosine,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY approx_cosine DESC, neighbor_id ASC) AS rnk
       |  FROM cand
       |)
       |SELECT query_id, neighbor_id, approx_cosine,
       |       ${dotDuck("qv", "v", "d")} / (qn * nrm) AS cosine,
       |       CAST(rnk AS INT) AS rnk
       |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------------------- product quantization

  /** PQ geometry: 64-dim vectors → `PqM` subspaces of `PqSub` dims,
    * each with a `PqK`-entry codebook (seeded by the first PqK
    * vectors' subvectors — same seeding convention as the IVF tier;
    * real deployments train per-subspace k-means exactly like
    * [[trainedCentroids]] and use PqK=256). The codebook size is
    * INDEPENDENT of corpus size — that's PQ's point: the index stores
    * m small codes per vector instead of the vector.
    */
  private val PqM = 8
  private val PqSub = 8   // = 64 / PqM
  private val PqK = 16

  /** Fixed-layout subvector slice list — shared by the index build
    * ([[pqIndex]]) and the serve-time query LUT ([[pqLutFor]]) so the
    * two sides can never disagree on the subspace geometry. */
  private val pqSlices: String = (0 until PqM)
    .map(j => s"slice(v, ${j * PqSub + 1}, $PqSub)")
    .mkString("array(", ", ", ")")

  /** The PQ index build — (ranked, cent, codes, lut); exposed for the
    * spec's ADC-identity check. */
  private[graft] def pqIndex(spark: SparkSession, sfDir: String,
                             nCentroids: Int = -1, nProbe: Int = -1)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val ranked = ivfRanked(spark, sfDir, nCentroids, nProbe)
    val assign = ranked.where($"crk" === 1)
      .select($"vec_id", $"v", $"nrm", $"cell")
    // one subspace row per (vector, j) — built once, feeds BOTH the
    // encode side and the query-LUT side
    val vsub = assign
      .selectExpr("vec_id", s"posexplode($pqSlices) as (j, subv)")
      .transform(BlockHygiene.checkpointTracked)
    val cent = vsub.where($"vec_id" < PqK)
      .selectExpr("j", "vec_id as cent_id", "subv as centv",
        s"${dotSpark("subv", "subv", "pc")} / 2D as cn2h")
      .transform(BlockHygiene.checkpointTracked)
    val codes = vsub.join(broadcast(cent), "j")
      .withColumn("score", expr(s"${dotSpark("subv", "centv", "pe")} - cn2h"))
      .withColumn("erk", row_number().over(
        Window.partitionBy($"vec_id", $"j")
          .orderBy($"score".desc, $"cent_id".asc)))
      .where($"erk" === 1)
      .select($"vec_id", $"j", $"cent_id".as("code"))
    val lut = vsub.join(broadcast(cent), "j")
      .selectExpr("vec_id as query_id", "j", "cent_id as code",
        s"cast(floor(${dotSpark("subv", "centv", "pl")} * 1000000000D) as bigint) as pdot_q")
    (ranked, cent, codes, lut)
  }

  /** Pack per-(vector, subspace) code rows into the fixed-layout array
    * [[pqAdcExpr]] indexes: (vec_id, codes[PqM]). */
  private[textops] def packPqCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("j"), col("code")))).as("cs"))
      .selectExpr("vec_id", "transform(cs, s -> s.code) as codes")

  /** Pack per-(query, subspace, code) LUT rows into the (j, code)-
    * ordered array [[pqAdcExpr]] indexes: (query_id, lut[PqM·PqK]). */
  private[textops] def packPqLut(lut: DataFrame): DataFrame =
    lut.groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("j"), col("code"), col("pdot_q"))))
        .as("ls"))
      .selectExpr("query_id", "transform(ls, s -> s.pdot_q) as lut")

  /** The per-query ADC lookup table against an arbitrary (possibly
    * stored) codebook: queries `(query_id, v)` dot their subvectors
    * against every codebook entry ONCE — O(PqM·PqK) rows per query,
    * never a candidate vector — with the same 1e-9 floor quantization
    * as the index build's LUT, so a stored-snapshot serve
    * ([[graft.textops.Pipelines.annSearchPqFrom]]) scores
    * bit-identically to the live [[similarityPq]]. */
  private[textops] def pqLutFor(queries: DataFrame, cb: DataFrame): DataFrame =
    packPqLut(queries
      .selectExpr("query_id as vec_id", "v")
      .selectExpr("vec_id", s"posexplode($pqSlices) as (j, subv)")
      .join(broadcast(cb), "j")
      .selectExpr("vec_id as query_id", "j", "cent_id as code",
        s"cast(floor(${dotSpark("subv", "centv", "pl")} * 1000000000D) as bigint) as pdot_q"))

  /** ADC over the packed arrays for a k-entry codebook:
    * Σ_j lut[j·k + codes[j]] — fixed expression order, BIGINT adds,
    * identical fold in the DuckDB oracle. The stride k must match the
    * codebook the LUT was packed against ([[pqCodebookK]] reads it off
    * a stored codebook). */
  private[textops] def pqAdcExprFor(k: Int): String = (0 until PqM)
    .map(j => s"element_at(lut, cast(element_at(codes, ${j + 1}) + ${j * k + 1} as int))")
    .mkString(" + ")

  /** The live tier's ADC expression (PqK-entry stride). */
  private[textops] val pqAdcExpr: String = pqAdcExprFor(PqK)

  /** Entries per subspace of a codebook frame (PqM·k rows total). */
  private[textops] def pqCodebookK(cb: DataFrame): Int =
    (cb.count() / PqM).toInt

  /** The live tier's codebook capacity, for snapshot builders that
    * take an override but default to the oracle-replayable geometry. */
  private[textops] val PqKDefault: Int = PqK

  /** The seeded IVF centroid table alone — what the stored-index
    * builders snapshot as `ann_centroids` without paying the full
    * assign pass. */
  private[textops] def ivfCentroids(spark: SparkSession, sfDir: String)
      : DataFrame =
    seededCentroids(vectors(spark, sfDir), autoCentroids(nVecs(spark, sfDir)))

  /** Encode vectors `(vec_id, v)` against an arbitrary (possibly
    * trained, possibly stored) PQ codebook — per subspace, the code of
    * the best entry by the same dot − ‖c‖²/2 rule [[pqIndex]] uses, so
    * seeded-codebook output is bit-identical to the inline build's. */
  private[textops] def pqEncode(vecs: DataFrame, cb: DataFrame): DataFrame =
    vecs.selectExpr("vec_id", s"posexplode($pqSlices) as (j, subv)")
      .join(broadcast(cb), "j")
      .withColumn("score", expr(s"${dotSpark("subv", "centv", "pe")} - cn2h"))
      .withColumn("erk", row_number().over(
        Window.partitionBy(col("vec_id"), col("j"))
          .orderBy(col("score").desc, col("cent_id").asc)))
      .where(col("erk") === 1)
      .select(col("vec_id"), col("j"), col("cent_id").as("code"))

  /** Corpus-total best encoder score Σ_(vec,j) max(dot − ‖c‖²/2)
    * under a codebook — a monotone proxy for NEGATIVE total L2
    * quantization error (error = Σ‖subv‖² − 2·Σ best, and the first
    * term is codebook-independent). Exposed for the Lloyd
    * non-regression spec: trained score must be ≥ seeded. */
  private[graft] def pqQuantScore(spark: SparkSession, sfDir: String,
                                  cb: DataFrame): Double = {
    import spark.implicits._
    vectors(spark, sfDir)
      .selectExpr("vec_id", s"posexplode($pqSlices) as (j, subv)")
      .join(broadcast(cb), "j")
      .withColumn("score", expr(s"${dotSpark("subv", "centv", "pq")} - cn2h"))
      .groupBy($"vec_id", $"j").agg(max($"score").as("best"))
      .agg(sum($"best")).head().getDouble(0)
  }

  /** Per-subspace Lloyd-trained PQ codebook with `k` entries — the
    * FAISS `train()` step the seeded tier skips. Same engine-exact
    * recipe as [[trainedCentroids]]: assign every (vector, subspace)
    * row to its best entry by the encoder's own dot − ‖c‖²/2 rule,
    * re-center per (j, code) in floor(1e6) BIGINT micro-units
    * (order-independent sums, one fixed divide order), fixed `rounds`
    * iterations, empty codes keep their entry. Seeded by the first
    * `k` vectors' subvectors, so rounds = 0 yields the seeded
    * k-entry codebook. Scale shape: each round is one broadcast
    * assign pass over the n·PqM subspace rows plus an O(PqM·k·PqSub)
    * partial-aggregated re-center — the codebook stays
    * corpus-size-independent and broadcastable throughout. Measured
    * caveat (BASELINE PQ addendum): on the synthetic clustered data
    * neither training, k=64, nor the residual (IVFADC) build fixes
    * in-cluster ADC discrimination — the within-cluster structure
    * there is isotropic noise no 32-bit code can rank, so ADC selects
    * candidate pools and a wide-pool exact re-rank assigns ranks. */
  private[graft] def pqTrainedCodebook(spark: SparkSession, sfDir: String,
                                       rounds: Int = 2,
                                       k: Int = PqK): DataFrame =
    pqTrainedCodebookFrom(
      vectors(spark, sfDir).select(col("vec_id"), col("v")), rounds, k)

  /** [[pqTrainedCodebook]] over an arbitrary `(vec_id, v)` frame —
    * the residual-encoding build ([[graft.textops.Pipelines
    * .materializePq]] with `residual = true`) trains on r = v − cell
    * centroid instead of the raw corpus. */
  private[textops] def pqTrainedCodebookFrom(vecs: DataFrame, rounds: Int,
                                             k: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val vsub = vecs
      .selectExpr("vec_id", s"posexplode($pqSlices) as (j, subv)")
      .transform(BlockHygiene.checkpointTracked)
    // seeds are the [0, k) id window — callers that want a different
    // seed population remap ids first (the residual build shifts by
    // −C so cell-seed vectors, whose residuals are zero, fall below
    // the window instead of inside it), so the lower bound matters
    var cent = vsub.where($"vec_id" >= 0 && $"vec_id" < k)
      .selectExpr("j", "vec_id as cent_id", "subv as centv",
        s"${dotSpark("subv", "subv", "pc")} / 2D as cn2h")
      .transform(BlockHygiene.checkpointTracked)
    for (_ <- 1 to rounds) {
      val assigned = vsub.join(broadcast(cent), "j")
        .withColumn("score", expr(s"${dotSpark("subv", "centv", "pt")} - cn2h"))
        .withColumn("erk", row_number().over(
          Window.partitionBy($"vec_id", $"j")
            .orderBy($"score".desc, $"cent_id".asc)))
        .where($"erk" === 1)
        .select($"j", $"cent_id", $"subv")
      val means = assigned
        .select($"j", $"cent_id", posexplode($"subv"))
        .selectExpr("j", "cent_id", "cast(pos as int) as dim",
          "cast(floor(col * 1000000) as bigint) as micro")
        .groupBy($"j", $"cent_id", $"dim")
        .agg(sum($"micro").as("sq"), count(lit(1)).as("cnt"))
        .selectExpr("j", "cent_id", "dim",
          "cast(sq as double) / cnt / 1000000.0 as m")
        .groupBy($"j", $"cent_id")
        .agg(expr("transform(array_sort(collect_list(struct(dim, m))), cs -> cs.m)")
          .as("newv"))
      cent = cent.select($"j", $"cent_id", $"centv".as("oldv"))
        .join(means, Seq("j", "cent_id"), "left")
        .selectExpr("j", "cent_id", "coalesce(newv, oldv) as centv")
        .selectExpr("j", "cent_id", "centv",
          s"${dotSpark("centv", "centv", "pc")} / 2D as cn2h")
        .transform(BlockHygiene.checkpointTracked)
    }
    cent
  }

  /** IVF + product-quantized ADC scoring with exact re-rank — the
    * third compression rung of the ANN ladder (full-precision IVF →
    * SQ8's 1 byte/dim → PQ's m codes/VECTOR, here 8 codes ≈ 8 B
    * against 512 B of raw doubles). Each vector is encoded once:
    * per subspace, the code of the nearest codebook entry by L2
    * (argmax of dot(sub, cent) − ‖cent‖²/2 — same optimum, dot-only
    * arithmetic both engines fold identically). A query never touches
    * candidate vectors during scoring: it dots its own subvectors
    * against the broadcast codebook once (the classic ADC lookup
    * table, n×m×k rows), and a candidate's approximate score is the
    * sum of m table lookups — relationally, an equi-join of the IVF
    * candidate set against `codes` and `lut` on (query, subspace,
    * code) plus a fixed-width sum. The m per-pair terms are floor-
    * quantized to 1e-9 BIGINTs before summing so the aggregate is
    * partition-order independent (the embedding_centroids micro-unit
    * pattern); only the k ADC survivors per query are re-read at full
    * precision for the exact cosine.
    *
    * Scale shape: codebook is O(m·k·d) — broadcast everywhere; codes
    * and LUT build are narrow one-pass maps over the checkpointed IVF
    * table; the ADC join shuffles on (query_id, j, code) with
    * map-side partial sums. No stage touches raw vectors per
    * candidate pair.
    */
  def similarityPq(spark: SparkSession, sfDir: String, k: Int = 5,
                   nCentroids: Int = -1, nProbe: Int = -1): DataFrame = {
    import spark.implicits._
    val (ranked, _, codes, lut) = pqIndex(spark, sfDir, nCentroids, nProbe)
    // pack per-vector codes and the per-query LUT into fixed-layout
    // arrays ONCE (n-row maps), so candidate scoring is a static
    // m-term element_at sum inside the cell join — no per-pair
    // explode, no (pair × subspace) shuffle, no re-aggregation. This
    // is the relational form of PQ's actual serving loop: codes are
    // m small ints per vector, the LUT is m·k entries per query, and
    // a candidate's score is m table lookups.
    val codesArr = packPqCodes(codes)
    val lutArr = packPqLut(lut)
    // Row width through the rank stage is a non-issue: Spark 4's
    // WindowGroupLimit runs a PARTIAL top-k per map partition BEFORE
    // the query_id exchange (PlanSpec pins it), so carrying qv/v for
    // the survivors' exact re-rank costs ~nothing — a slim variant
    // that joined vectors back post-rank measured SLOWER at sf1
    // (46.8 s vs 40.2 s: two extra joins, no exchange saved).
    val assign = ranked.where($"crk" === 1)
      .select($"vec_id", $"v", $"nrm", $"cell")
      .join(codesArr, "vec_id")
    // ivfRanked is already cut to the nProbe head — every row is a probe
    val probes = ranked
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"), $"cell")
      .join(lutArr, "query_id")
    probes
      .join(assign.select($"vec_id", $"v", $"nrm", $"cell", $"codes"), "cell")
      .where($"query_id" =!= $"vec_id")
      .withColumn("approx_cosine",
        expr(s"(cast(($pqAdcExpr) as double) / 1000000000D) / (qn * nrm)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"approx_cosine".desc, $"vec_id".asc)))
      .where($"rnk" <= k)
      .withColumn("cosine", expr(s"${dotSpark("qv", "v", "d")} / (qn * nrm)"))
      .select($"query_id", $"vec_id".as("neighbor_id"), $"approx_cosine",
        $"cosine", $"rnk".cast("int").as("rnk"))
      .orderBy($"query_id", $"rnk")
  }

  /** DuckDB CTE chain ending in `rk(query_id, neighbor_id,
    * approx_cosine, qv, qn, v, nrm, rnk)` — the full PQ pipeline,
    * shared by the result oracle and the recall-gate oracle.
    */
  private lazy val pqCtes: String = {
    val jList = (0 until PqM).mkString("[", ", ", "]")
    val adcExprDuck = (0 until PqM)
      .map(j => s"lut[codes[${j + 1}] + ${j * PqK + 1}]")
      .mkString(" + ")
    s"""$geomCte, $vecCtes, ${seededCentCte("icent")}, ${rankedCellsCte(cent = "icent")}, assign AS (
       |  SELECT vec_id, v, nrm, cent_id AS cell FROM rankedcells WHERE crk = 1
       |), js AS (
       |  SELECT unnest($jList) AS j
       |), vsub AS (
       |  SELECT a.vec_id, js.j,
       |         list_slice(a.v, js.j * $PqSub + 1, js.j * $PqSub + $PqSub) AS subv
       |  FROM assign a CROSS JOIN js
       |), pcent AS (
       |  SELECT j, vec_id AS cent_id, subv AS centv,
       |         ${dotDuck("subv", "subv", "pc")} / CAST(2 AS DOUBLE) AS cn2h
       |  FROM vsub WHERE vec_id < $PqK
       |), codes AS (
       |  SELECT vec_id, j, cent_id AS code FROM (
       |    SELECT s.vec_id, s.j, c.cent_id,
       |           row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
       |             ${dotDuck("s.subv", "c.centv", "pe")} - c.cn2h DESC,
       |             c.cent_id ASC) AS erk
       |    FROM vsub s JOIN pcent c ON s.j = c.j
       |  ) WHERE erk = 1
       |), lut AS (
       |  SELECT s.vec_id AS query_id, s.j, c.cent_id AS code,
       |         CAST(floor(${dotDuck("s.subv", "c.centv", "pl")}
       |           * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS pdot_q
       |  FROM vsub s JOIN pcent c ON s.j = c.j
       |), codesarr AS (
       |  SELECT vec_id, array_agg(code ORDER BY j) AS codes
       |  FROM codes GROUP BY vec_id
       |), lutarr AS (
       |  SELECT query_id, array_agg(pdot_q ORDER BY j, code) AS lut
       |  FROM lut GROUP BY query_id
       |), cand AS (
       |  SELECT p.vec_id AS query_id, p.v AS qv, p.nrm AS qn,
       |         a.vec_id, a.v, a.nrm, la.lut, ca.codes
       |  FROM rankedcells p JOIN assign a
       |    ON p.cent_id = a.cell AND p.crk <= $gNp AND p.vec_id <> a.vec_id
       |  JOIN lutarr la ON la.query_id = p.vec_id
       |  JOIN codesarr ca ON ca.vec_id = a.vec_id
       |), r AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         (CAST(($adcExprDuck) AS DOUBLE) / CAST(1000000000 AS DOUBLE))
       |           / (qn * nrm) AS approx_cosine,
       |         qv, qn, v, nrm
       |  FROM cand
       |), rk AS (
       |  SELECT query_id, neighbor_id, approx_cosine, qv, qn, v, nrm,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY approx_cosine DESC, neighbor_id ASC) AS rnk
       |  FROM r
       |)""".stripMargin
  }

  lazy val similarityPqOracle: String =
    s"""WITH $pqCtes
       |SELECT query_id, neighbor_id, approx_cosine,
       |       ${dotDuck("qv", "v", "d")} / (qn * nrm) AS cosine,
       |       CAST(rnk AS INT) AS rnk
       |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** recall@k of the PQ tier against the exact ground truth on the
    * deterministic 1-in-`sampleMod` query sample — the same QA gate
    * every other ANN tier ships ([[similarityRecall]] /
    * [[similarityRecallLsh]]); without one, a PQ codebook change has
    * no quality signal. */
  def similarityRecallPq(spark: SparkSession, sfDir: String, k: Int = 5,
                         sampleMod: Int = -1): DataFrame = {
    val mod = panelMod(spark, sfDir, sampleMod)
    recallVsExact(spark, sfDir, similarityPq(spark, sfDir, k), k, mod)
  }

  /** The recall tail every ANN quality gate shares: recall@k of an
    * approximate top-k `(query_id, neighbor_id, …)` against the exact
    * top-k ([[exactCandidates]] + [[topKPerQuery]]) on the 1-in-`mod`
    * query panel — one row per panel query: hits, hits / k. */
  private def recallVsExact(spark: SparkSession, sfDir: String,
                            approxTopK: DataFrame, k: Int,
                            mod: Int): DataFrame = {
    import spark.implicits._
    val exact = topKPerQuery(exactCandidates(spark, sfDir, mod), k)
      .select($"query_id", $"neighbor_id")
    val approx = approxTopK
      .where($"query_id" % mod === 0)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0L))).as("hits"))
      .selectExpr("query_id", "hits",
        s"cast(hits as double) / $k as recall")
      .orderBy($"query_id")
  }

  /** DuckDB twin of the recall gates' ground truth: `exact(query_id,
    * neighbor_id)`, the exact top-`k` of the 1-in-`mod` panel over `n`. */
  private def exactTopKCte(k: Int, mod: String, sfx: String = "d"): String =
    s"""exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ${dotDuck("a.v", "b.v", sfx)} / (a.nrm * b.nrm)
       |               DESC, b.vec_id ASC) AS rnk
       |    FROM n a JOIN n b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id % $mod = 0
       |  ) WHERE rnk <= $k
       |)""".stripMargin

  /** DuckDB twin of [[recallVsExact]]'s aggregation over the `exact`
    * and `approx(query_id, neighbor_id)` CTEs (IVF and LSH gates). */
  private def recallSelectSql(k: Int): String =
    s"""SELECT x.query_id,
       |       CAST(sum(CASE WHEN ap.neighbor_id IS NULL THEN 0 ELSE 1 END)
       |            AS BIGINT) AS hits,
       |       CAST(CAST(sum(CASE WHEN ap.neighbor_id IS NULL THEN 0 ELSE 1 END)
       |            AS BIGINT) AS DOUBLE) / $k AS recall
       |FROM exact x LEFT JOIN approx ap
       |  ON x.query_id = ap.query_id AND x.neighbor_id = ap.neighbor_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  def similarityRecallPqOracle(k: Int = 5, sampleMod: Int = -1): String = {
    val mod = if (sampleMod > 0) sampleMod.toString else gMod
    s"""WITH $pqCtes, ${exactTopKCte(k, mod, "x")}, approx AS (
       |  SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS hit
       |  FROM rk WHERE rnk <= $k AND query_id % $mod = 0
       |)
       |SELECT e.query_id, CAST(sum(COALESCE(a.hit, 0)) AS BIGINT) AS hits,
       |       CAST(sum(COALESCE(a.hit, 0)) AS DOUBLE) / $k AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  // ------------------------------------------------------- SRP-LSH variant

  private lazy val lshPlanes: IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(LshTables * MaxLshBits) { p =>
      IndexedSeq.tabulate(Dim) { d =>
        val x = (1103515245L * (p * Dim + d + 1) + 12345L) % 2147483647L
        if (x % 2 == 0) 1.0 else -1.0
      }
    }

  /** Pool index for (table, bit). The first 8 bits of every table keep
    * their original pool positions (p = t·8 + i), so the oracle-default
    * b=8 hash family is bit-identical to every previous round; the
    * adaptive tier's extension bits (i ≥ 8) draw from the pool tail,
    * strided by the per-table extension width (MaxLshBits − LshBits,
    * which the 16-bit pool era could spell `LshBits` only by numeric
    * coincidence).
    */
  private def planeIdx(t: Int, i: Int): Int =
    if (i < LshBits) t * LshBits + i
    else LshTables * LshBits + t * (MaxLshBits - LshBits) + (i - LshBits)

  private def lshProbesSpark(t: Int, bits: Int): String =
    if (bits == 0) "array(0)"
    else {
      val flat = (0 until bits).flatMap(i => lshPlanes(planeIdx(t, i)))
        .map(_.toString + "D").mkString("array(", ",", ")")
      s"srp_probes(v, $flat, ${multiprobeCount(bits)})"
    }

  private def lshSigSpark(t: Int, bits: Int = LshBits): String =
    if (bits == 0) "0"  // degenerate: every vector in one bucket (test hook)
    else {
      // one native srp_sig over the flattened (bits × 64) plane matrix:
      // the per-bit `case when vec_dot(...)` sum blew the generated
      // method size at b ≥ 10 and fell out of whole-stage codegen
      // ("D" suffix: bare 1.0 parses as DECIMAL(2,1) in Spark SQL)
      val flat = (0 until bits).flatMap(i => lshPlanes(planeIdx(t, i)))
        .map(_.toString + "D").mkString("array(", ",", ")")
      s"srp_sig(v, $flat)"
    }

  /** DuckDB plane table: one (tbl, i, parr) row per table × pool bit,
    * the plane arrays inlined literally — the same deterministic family
    * [[lshPlanes]] gives the Spark side. Emitting the FULL pool (not
    * just the oracle-default 8 bits) plus an `i < geom.bits` guard is
    * what lets one oracle replay the adaptive signature at any SF.
    */
  private lazy val lshPlanesDuck: String = {
    val rows = for {
      t <- 0 until LshTables
      i <- 0 until MaxLshBits
    } yield {
      val arr = lshPlanes(planeIdx(t, i)).map(_.toString).mkString("[", ",", "]")
      s"($t, $i, CAST($arr AS DOUBLE[]))"
    }
    rows.mkString(
      "planes AS (\n  SELECT * FROM (VALUES\n    ",
      ",\n    ",
      ") pl(tbl, i, parr)\n)")
  }

  /** Shared LSH CTE chain `bt → sigs → buckets`: per-(vector, table,
    * bit) plane dots for the geom-resolved bit count, folded into the
    * per-table signature — `bt` also feeds the multiprobe margin rank.
    */
  private lazy val lshBucketCtesDuck: String =
    s"""bt AS (
       |  SELECT n.vec_id, p.tbl, p.i, ${dotDuck("n.v", "p.parr", "lb")} AS dt
       |  FROM n CROSS JOIN planes p
       |  WHERE p.i < $gBits
       |), sigs AS (
       |  SELECT vec_id, tbl,
       |         CAST(sum(CASE WHEN dt > 0 THEN (1 << i) ELSE 0 END) AS INT) AS sig
       |  FROM bt GROUP BY vec_id, tbl
       |), buckets AS (
       |  SELECT n.vec_id, n.v, n.nrm, s.tbl, s.sig
       |  FROM n JOIN sigs s ON n.vec_id = s.vec_id
       |)""".stripMargin

  /** The multiprobe query side: base signature + every single-bit flip
    * per table (T = b — see [[multiprobeCount]]; with the full ring
    * kept, srp_probes' margin order affects array order only, and the
    * probe SET this UNION replays is order-free).
    */
  private lazy val lshProbeCtesDuck: String =
    s"""probes AS (
       |  SELECT vec_id, v, nrm, tbl, sig FROM buckets
       |  UNION ALL
       |  SELECT b.vec_id, b.v, b.nrm, b.tbl,
       |         CAST(xor(b.sig, 1 << f.i) AS INT) AS sig
       |  FROM buckets b
       |  JOIN (SELECT DISTINCT tbl, i FROM bt) f ON b.tbl = f.tbl
       |)""".stripMargin

  // --------------------------------------------- centroids & recall eval

  /** Per-label embedding centroids — the class-prototype aggregation a
    * labelled-embedding pipeline runs (cluster summaries, nearest-class
    * classification, drift monitoring). Float means are order-dependent,
    * so a naive avg() would be nondeterministic under Spark's partial
    * aggregation AND engine-divergent vs the oracle; instead each
    * element is quantized to exact integer micro-units
    * (floor(el·10⁶) — floor, not round, so both engines agree on every
    * value), summed exactly as BIGINT (commutative ⇒ partition-order
    * independent), and divided back out in one fixed double-op order.
    *
    * Scale shape: posexplode fans n vectors to n·d narrow rows; the
    * (label, dim) groupBy partial-aggregates map-side, so the shuffle
    * carries one row per (label, dim) per task — O(labels·d·tasks),
    * never O(n·d).
    */
  def embeddingCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select($"label", posexplode($"embedding"))
      .selectExpr("label", "cast(pos as int) as dim",
        "cast(floor(cast(col as double) * 1000000) as bigint) as micro")
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"micro").as("sum_micro"))
      .selectExpr("label", "dim", "n",
        "cast(sum_micro as double) / n / 1000000.0 as centroid")
      .orderBy($"label", $"dim")
  }

  /** DuckDB replay: the dim fan-out is an uncorrelated range(64) CROSS
    * JOIN guarded by `k < len(embedding)` (DuckDB table functions can't
    * take lateral column arguments), then the identical micro-unit
    * floor/sum/divide chain.
    */
  val embeddingCentroidsOracle: String =
    """WITH ex AS (
      |  SELECT label, CAST(g.k AS INT) AS dim,
      |         CAST(floor(CAST(embedding[CAST(g.k AS INT) + 1] AS DOUBLE)
      |                    * 1000000) AS BIGINT) AS micro
      |  FROM embeddings CROSS JOIN range(64) g(k)
      |  WHERE g.k < len(embedding)
      |)
      |SELECT label, dim, count(*) AS n,
      |       CAST(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000.0
      |            AS DOUBLE) AS centroid
      |FROM ex GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** The (label, centv, centn) prototype table [[embeddingOutliers]]
    * ranks against — exposed so [[Pipelines.materializeProtos]] can
    * persist it as the serving index for the streaming curation gate. */
  private[graft] def protoTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embeddingCentroids(spark, sfDir)
      .groupBy($"label")
      .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), cp -> cp.centroid)")
        .as("centv"))
      .selectExpr("label", "centv",
        s"sqrt(${dotSpark("centv", "centv", "oc")}) as centn")
  }

  /** Prototypicality-based data pruning (SSL-prototypes, Sorscher et
    * al. NeurIPS '22 "Beyond neural scaling laws"; the scoring half of
    * SemDeDup-style semantic curation): rank every embedding by cosine
    * to its class prototype (the [[embeddingCentroids]] micro-unit
    * mean) and flag the least-prototypical `outlierPct`% per label —
    * the candidates a curation pass drops (mislabeled / off-topic /
    * noise) or, inverted, keeps as the hard examples. The flag is an
    * exact integer predicate (`rnk·100 ≤ n_label·pct`), so the split
    * point never depends on float rounding.
    *
    * Engine-exactness: centroids are the micro-unit BIGINT means
    * (order-independent, bit-identical in DuckDB), assembled into an
    * ordered array (`array_sort(collect_list(struct(dim, ·)))` — the
    * trained-IVF idiom), and every cosine runs the same left-fold dot
    * in one fixed op order on both engines.
    *
    * Scale shape: the centroid table is O(labels) rows → broadcast;
    * scoring is a narrow per-vector map (no shuffle of vectors); the
    * per-label rank windows partition on label — bounded cardinality,
    * with the same two-level threshold upgrade path as
    * [[Sampling.corpusSample]] documented for few-label corpora.
    */
  def embeddingOutliers(spark: SparkSession, sfDir: String,
                        outlierPct: Int = 5): DataFrame = {
    import spark.implicits._
    val cent = protoTable(spark, sfDir)
    withNorm(Tables.embeddings(spark, sfDir), "embedding", "vec_id", "label")
      .join(broadcast(cent), "label")
      .withColumn("proto_cos", expr(s"${dotSpark("v", "centv", "op")} / (nrm * centn)"))
      .withColumn("n_label", count(lit(1)).over(Window.partitionBy($"label")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"label").orderBy($"proto_cos".asc, $"vec_id".asc)))
      .selectExpr("vec_id", "label", "proto_cos", "cast(rnk as int) as rnk",
        s"rnk * 100 <= n_label * $outlierPct as is_outlier")
      .orderBy($"label", $"rnk")
  }

  def embeddingOutliersOracle(outlierPct: Int = 5): String =
    s"""WITH ex AS (
       |  SELECT label, CAST(g.k AS INT) AS dim,
       |         CAST(floor(CAST(embedding[CAST(g.k AS INT) + 1] AS DOUBLE)
       |                    * 1000000) AS BIGINT) AS micro
       |  FROM embeddings CROSS JOIN range(64) g(k)
       |  WHERE g.k < len(embedding)
       |), cm AS (
       |  SELECT label, dim,
       |         CAST(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000.0
       |              AS DOUBLE) AS centroid
       |  FROM ex GROUP BY 1, 2
       |), cent AS (
       |  SELECT label, list(centroid ORDER BY dim) AS centv FROM cm GROUP BY 1
       |), cn AS (
       |  SELECT label, centv, sqrt(${dotDuck("centv", "centv", "occ")}) AS centn
       |  FROM cent
       |), n AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), nv AS (
       |  SELECT vec_id, label, v, sqrt(${dotDuck("v", "v", "ovv")}) AS nrm FROM n
       |), scored AS (
       |  SELECT nv.vec_id, nv.label,
       |         ${dotDuck("nv.v", "c.centv", "opp")} / (nv.nrm * c.centn) AS proto_cos
       |  FROM nv JOIN cn c ON nv.label = c.label
       |), ranked AS (
       |  SELECT vec_id, label, proto_cos,
       |         CAST(row_number() OVER (PARTITION BY label
       |                                 ORDER BY proto_cos ASC, vec_id ASC) AS INT) AS rnk,
       |         count(*) OVER (PARTITION BY label) AS n_label
       |  FROM scored
       |)
       |SELECT vec_id, label, proto_cos, rnk,
       |       rnk * 100 <= n_label * $outlierPct AS is_outlier
       |FROM ranked ORDER BY label, rnk""".stripMargin

  /** ANN quality evaluation: recall@k of the IVF path against the
    * exact brute-force top-k, on a deterministic 1-in-`sampleMod`
    * query sample — the QA gate every approximate index ships with.
    * The exact side is quadratic ONLY over the sample (n/mod × n
    * pairs), which is the standard way recall is measured at scale:
    * the full n² ground truth is exactly what the index exists to
    * avoid computing.
    */
  def similarityRecall(spark: SparkSession, sfDir: String, k: Int = 5,
                       nCentroids: Int = -1, nProbe: Int = -1,
                       sampleMod: Int = -1,
                       trained: Boolean = false): DataFrame = {
    val mod = panelMod(spark, sfDir, sampleMod)
    recallVsExact(spark, sfDir,
      if (trained) similarityIvfTrained(spark, sfDir, k, nCentroids, nProbe)
      else similarityIvf(spark, sfDir, k, nCentroids, nProbe), k, mod)
  }

  def similarityRecallOracle(k: Int = 5, nCentroids: Int = -1,
                             nProbe0: Int = -1, sampleMod: Int = -1): String = {
    // explicit params inline as literals; -1 defers to the geom CTE so
    // the oracle resolves the same geometry as the Scala side at any SF
    val cS = if (nCentroids > 0) nCentroids.toString else gC
    val nProbe =
      if (nProbe0 > 0) nProbe0.toString
      else if (nCentroids > 0) autoNProbe(nCentroids).toString
      else gNp
    val mod = if (sampleMod > 0) sampleMod.toString else gMod
    s"""WITH $geomCte, $vecCtes, ${exactTopKCte(k, mod)}, ${seededCentCte("cent", cS)}, rankedcells AS (
       |  SELECT vec_id, v, nrm, cent_id,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY ${dotDuck("n.v", "c.centv", "a")} / (n.nrm * c.centn)
       |             DESC, cent_id ASC) AS crk
       |  FROM n CROSS JOIN cent c
       |), assign AS (
       |  SELECT vec_id, v, nrm, cent_id AS cell FROM rankedcells WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cent_id AS cell
       |  FROM rankedcells WHERE crk <= $nProbe
       |), approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY p.query_id
       |             ORDER BY ${dotDuck("p.qv", "a.v", "d")} / (p.qn * a.nrm)
       |               DESC, a.vec_id ASC) AS rnk
       |    FROM probes p JOIN assign a ON p.cell = a.cell AND p.query_id <> a.vec_id
       |  ) WHERE rnk <= $k AND query_id % $mod = 0
       |)
       |${recallSelectSql(k)}""".stripMargin
  }

  /** Shared SRP-LSH candidate scoring. Index side is always the exact
    * (table, signature) buckets; with `multiprobe` the QUERY side also
    * probes every Hamming-1 signature variant (multi-probe LSH, Lv et
    * al. VLDB '07): a near neighbor that disagrees on exactly one of
    * the b hyperplanes — the dominant miss mode, since per-plane
    * disagreement odds are independent — is still found. Recall comes
    * from probe fan-out instead of more tables: T = b extra probes per
    * table (the full Hamming-1 ring — [[multiprobeCount]] explains why
    * the budget tracks the adaptive bit count rather than staying
    * fixed) through the SAME bucket join, zero index growth, where the
    * classic recall lever (more tables) multiplies the stored index.
    * Probe fan-out grows Θ(log n) per query while per-bucket occupancy
    * holds ≈ 2, so the candidate join stays linear in n per decade.
    * Output: distinct (query_id, neighbor_id, cosine).
    */
  private def lshCandidates(spark: SparkSession, sfDir: String,
                            tables: Int, bits: Int,
                            multiprobe: Boolean): DataFrame = {
    import spark.implicits._
    val n = nVecs(spark, sfDir)
    val b = if (bits >= 0) bits else autoBits(n)
    require(tables <= LshTables && b <= MaxLshBits,
      s"only $LshTables tables x $MaxLshBits deterministic hyperplanes generated")
    val e = vectors(spark, sfDir)
    val stackExpr = (0 until tables)
      .map(t => s"$t, ${lshSigSpark(t, b)}").mkString(", ")
    // Signatures are computed SCAN-SIDE and the 64-double vector is
    // dropped before any exchange (round 18, guide §2.3/§8: shuffle
    // keys, not payloads): the bucket join used to carry qv/cv through
    // both sides — the multiprobe query side alone shipped
    // n·L·(b+1) ≈ 140 k vector-bearing rows (~70 MB at sf0.1) through
    // the (tbl, sig) exchange to produce a candidate set whose identity
    // needs only (tbl, sig, vec_id). The pair distinct is now 2 longs
    // per row (the round-15 "score first" rule targeted a distinct
    // that still carried vectors; with narrow bucket rows,
    // distinct-then-score strictly dominates: it also scores each
    // unique pair once instead of the ~1.6× collision-duplicated
    // stream). Vectors re-attach AFTER the distinct via equi-joins on
    // the ids — broadcast below ~100 k vectors (≈50 MB), shuffled
    // equi-joins beyond (the §8 decide-with-small-rows /
    // attach-payload-once shape). The cosine is the same vec_dot
    // expression over the same vectors, so scores — and the ranked
    // output — are bit-identical.
    val buckets = e.selectExpr("vec_id",
      s"stack($tables, $stackExpr) as (tbl, sig)")
    val q =
      if (!multiprobe || b == 0)
        buckets.select($"vec_id".as("query_id"), $"tbl", $"sig")
      else {
        val probeStack = (0 until tables)
          .map(t => s"$t, ${lshProbesSpark(t, b)}").mkString(", ")
        e.selectExpr("vec_id",
            s"stack($tables, $probeStack) as (tbl, sigs)")
          .selectExpr("vec_id as query_id", "tbl", "explode(sigs) as sig")
      }
    val c = buckets.select($"vec_id".as("neighbor_id"), $"tbl", $"sig")
    val pairs = q.join(c, Seq("tbl", "sig"))
      .where($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id")
      .distinct()
    val qv = e.select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val cv = e.select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
    val small = n <= Dedup.BroadcastReattachMaxVecs
    pairs
      .join(if (small) broadcast(qv) else qv, "query_id")
      .join(if (small) broadcast(cv) else cv, "neighbor_id")
      .select($"query_id", $"neighbor_id",
        expr(s"${dotSpark("qv", "cv", "d")} / (qn * cn)").as("cosine"))
  }

  /** LSH-bucketed ANN — the second scale path next to IVF: vectors
    * whose signs agree on all b hyperplanes of SOME table land in the
    * same (table, signature) bucket; candidates come from bucket
    * equi-joins only (~L·n²/2^b pairs instead of n²), then exact-cosine
    * rank. Near-uniform synthetic vectors are SRP's worst case, hence
    * b = 8 and L = 4; clustered real embeddings bucket far more
    * sharply. Recall is partial by design — the oracle replays the
    * same candidate generation, keeping the gate exact.
    */
  def similarityLsh(spark: SparkSession, sfDir: String, k: Int = 5,
                    tables: Int = LshTables, bits: Int = -1): DataFrame =
    rankTopK(lshCandidates(spark, sfDir, tables, bits, multiprobe = false), k)

  /** Multi-probe SRP-LSH top-k — the recall-holding form of
    * [[similarityLsh]] (see [[lshCandidates]] and [[multiprobeCount]]
    * for the T = b scale law): measured recall@5 on the near-uniform
    * corpus rises well over exact-bucket probing (0.15 → 0.34 at sf0.1
    * under the old fixed T = 8; the full-ring budget strictly widens
    * the probe set) at (b+1)× query-side fan-out through the same
    * join — BASELINE.md records the per-tier recall/cost law.
    */
  def similarityLshMultiprobe(spark: SparkSession, sfDir: String, k: Int = 5,
                              tables: Int = LshTables, bits: Int = -1): DataFrame =
    rankTopK(lshCandidates(spark, sfDir, tables, bits, multiprobe = true), k)

  /** Per-table SRP-LSH bucket-occupancy telemetry — the LSH analog of
    * [[similarityCellStats]] (diagnostic tier, oracled): how a user
    * measures whether the T = b probe law's cost model holds on THEIR
    * corpus before trusting it. The model is cost/query ≈
    * (b+1)·L·occ_eff, where occ_eff is candidates per PROBE — most
    * Hamming-1 probes land in sparse or empty buckets, so occ_eff
    * (≈2.4 measured at sf0.1/sf1: 137 cand/query ÷ 14·4) sits well
    * BELOW occ_avg, the per-USED-bucket mean reported here (8.5 at
    * sf1 near-uniform; over used buckets because 2^b is mostly empty
    * by design, so the IVF-style divide-by-total would read as 0).
    * What occ_avg/occ_max/hot_buckets measure is the bucket-size
    * SKEW that tells you when the uniform cost model breaks:
    * clustered corpora concentrate (19–28 avg / thousands max at
    * 200 k clustered — BASELINE §SRP-LSH third decade), every query
    * probing a hot bucket inherits its size, and the right response
    * is batch-the-queries serving, not the all-at-once self-kNN.
    * hot_buckets counts buckets past 4× the expected occupancy.
    * One row per table; all integer arithmetic so DuckDB replays
    * exactly.
    */
  def similarityLshStats(spark: SparkSession, sfDir: String,
                         tables: Int = LshTables, bits: Int = -1): DataFrame = {
    import spark.implicits._
    val n = nVecs(spark, sfDir)
    val b = if (bits >= 0) bits else autoBits(n)
    require(tables <= LshTables && b <= MaxLshBits,
      s"only $LshTables tables x $MaxLshBits deterministic hyperplanes generated")
    val e = vectors(spark, sfDir)
    val stackExpr = (0 until tables)
      .map(t => s"$t, ${lshSigSpark(t, b)}").mkString(", ")
    val hotT = 4L * math.max(1L, n / (1L << b))
    e.selectExpr("vec_id", s"stack($tables, $stackExpr) as (tbl, sig)")
      .groupBy($"tbl", $"sig").agg(count(lit(1)).as("occ"))
      .groupBy($"tbl")
      .agg(count(lit(1)).as("buckets_used"), sum($"occ").as("n_assigned"),
        min($"occ").as("occ_min"), max($"occ").as("occ_max"),
        sum(when($"occ" > hotT, 1L).otherwise(0L)).as("hot_buckets"))
      .selectExpr("cast(tbl as int) as tbl", s"cast($b as int) as bits",
        s"cast(${b + 1} as int) as probes_per_query",
        "buckets_used", "n_assigned", "occ_min", "occ_max",
        "cast(n_assigned as double) / buckets_used as occ_avg", "hot_buckets")
      .orderBy($"tbl")
  }

  /** DuckDB replay of [[similarityLshStats]] via the shared bucket
    * CTE chain; geometry and the hot threshold derive from the corpus.
    */
  lazy val similarityLshStatsOracle: String =
    s"""WITH $geomCte, $lshPlanesDuck, $vecCtes, $lshBucketCtesDuck, occs AS (
       |  SELECT tbl, sig, count(*) AS occ FROM buckets GROUP BY tbl, sig
       |), hot AS (
       |  SELECT 4 * greatest(CAST(1 AS BIGINT),
       |    (SELECT count(*) FROM embeddings)
       |      // (CAST(1 AS BIGINT) << $gBits)) AS t
       |)
       |SELECT CAST(tbl AS INT) AS tbl, CAST($gBits AS INT) AS bits,
       |       CAST($gBits + 1 AS INT) AS probes_per_query,
       |       CAST(count(*) AS BIGINT) AS buckets_used,
       |       CAST(sum(occ) AS BIGINT) AS n_assigned,
       |       CAST(min(occ) AS BIGINT) AS occ_min,
       |       CAST(max(occ) AS BIGINT) AS occ_max,
       |       CAST(CAST(sum(occ) AS BIGINT) AS DOUBLE) / count(*) AS occ_avg,
       |       CAST(sum(CASE WHEN occ > (SELECT t FROM hot) THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hot_buckets
       |FROM occs GROUP BY tbl ORDER BY tbl""".stripMargin

  val similarityLshOracle: String =
    s"""WITH $geomCte, $lshPlanesDuck, $vecCtes, $lshBucketCtesDuck, cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${dotDuck("q.v", "c.v", "d")} / (q.nrm * c.nrm) AS cosine
       |  FROM buckets q JOIN buckets c
       |    ON q.tbl = c.tbl AND q.sig = c.sig AND q.vec_id <> c.vec_id
       |), ${rankTailSql("cand", "5")}""".stripMargin

  /** DuckDB replay of the multi-probe candidate generation: the query
    * side is the bucket signatures UNION their b Hamming-1 XOR
    * variants, joined against the exact index buckets — the same
    * probe set the Spark side explodes.
    */
  val similarityLshMultiprobeOracle: String =
    s"""WITH $geomCte, $lshPlanesDuck, $vecCtes, $lshBucketCtesDuck, $lshProbeCtesDuck, cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${dotDuck("q.v", "c.v", "d")} / (q.nrm * c.nrm) AS cosine
       |  FROM probes q JOIN buckets c
       |    ON q.tbl = c.tbl AND q.sig = c.sig AND q.vec_id <> c.vec_id
       |), ${rankTailSql("cand", "5")}""".stripMargin

  /** ANN quality gate for the SRP-LSH tier — recall@k of
    * [[similarityLsh]] against the exact brute-force top-k, on the same
    * deterministic 1-in-`sampleMod` query sample [[similarityRecall]]
    * uses for the IVF tier. Closes the round-6 QA gap: the LSH tier
    * shipped ungraded, so a user tuning L×b had no quality signal.
    * Same scale argument as the IVF gate: the exact side is quadratic
    * only over the sample, which is how recall is measured at scale.
    * The approx side is panel-bounded too: the `% mod` filter pushes
    * through the rank window (query_id is the partition key) and into
    * the bucket join's query branch, so the gate never materializes
    * the full self-kNN — 28 s at 200 k clustered where the full serve
    * is disk-bound (PlanSpec pins the pushdown; BASELINE §SRP-LSH
    * third decade records the measurement).
    */
  def similarityRecallLsh(spark: SparkSession, sfDir: String, k: Int = 5,
                          sampleMod: Int = -1, tables: Int = LshTables,
                          bits: Int = -1,
                          multiprobe: Boolean = false): DataFrame = {
    val mod = panelMod(spark, sfDir, sampleMod)
    recallVsExact(spark, sfDir,
      if (multiprobe) similarityLshMultiprobe(spark, sfDir, k, tables, bits)
      else similarityLsh(spark, sfDir, k, tables, bits), k, mod)
  }

  def similarityRecallLshOracle(k: Int = 5, sampleMod: Int = -1,
                                multiprobe: Boolean = false): String = {
    // oracle replays the DEFAULT L × adaptive-b family only;
    // non-default tables/bits invocations are test hooks with no
    // oracle pairing
    val mod = if (sampleMod > 0) sampleMod.toString else gMod
    val qSide = if (multiprobe) s"$lshProbeCtesDuck, " else ""
    val qRel = if (multiprobe) "probes" else "buckets"
    s"""WITH $geomCte, $lshPlanesDuck, $vecCtes, ${exactTopKCte(k, mod)}, $lshBucketCtesDuck, ${qSide}cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${dotDuck("q.v", "c.v", "d")} / (q.nrm * c.nrm) AS cosine
       |  FROM $qRel q JOIN buckets c
       |    ON q.tbl = c.tbl AND q.sig = c.sig AND q.vec_id <> c.vec_id
       |), approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cosine DESC, neighbor_id ASC) AS rnk
       |    FROM cand
       |  ) WHERE rnk <= $k AND query_id % $mod = 0
       |)
       |${recallSelectSql(k)}""".stripMargin
  }
}
