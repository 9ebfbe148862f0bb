package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the star schema — the engine side the
  * reference lacks entirely (its closest shape is keyed state folds;
  * REF: MarketAnalysis/…/AdStatisticsByGeo.scala § keyed aggregates —
  * reconstructed, SURVEY.md §0). PageRank here is the canonical
  * "iterate a shuffle until fixpoint" workload: each round is one
  * edge-list equi-join + partial-aggregated shuffle, the exact plan
  * shape Pregel/GraphX lower to, so the operator scales the same way
  * the dedup clustering loop does (join the EDGES, never materialize
  * neighborhoods).
  *
  * Determinism: ranks are held in integer MICRO-units (1.0 = 1e6) and
  * every division is integral. Floating-point PageRank cannot be
  * hash-oracled across engines (float addition is non-associative, so
  * partial-aggregation order changes low bits); integer arithmetic is
  * associative and truncating division is identical in Spark (`div`)
  * and DuckDB (`//`) for non-negative operands, so the DuckDB replay
  * is bit-exact. The same trick is how any distributed engine makes
  * iterative numeric results reproducible run-to-run.
  */
object GraphAnalytics {

  /** Fixed iteration count — a convergence-threshold stop needs a
    * float norm; fixed rounds keep the result exactly replayable. */
  val Iters = 5
  private val BaseMicro = 1000000L // rank 1.0
  private val TeleportMicro = 150000L // damping (1-0.85) * 1e6

  /** PageRank over the part co-purchase graph: parts appearing in the
    * same order are linked (distinct directed pairs both ways).
    * Dangling mass (parts with no out-edges) is dropped, the standard
    * pruned-PageRank simplification — documented, deterministic.
    *
    * Plan: the edge-build subtree (self-join + distinct + degree join)
    * appears identically under all five rounds, so Catalyst's
    * ReuseExchange computes its shuffle ONCE per action — measured 8×
    * faster than eagerly checkpointing the edge list (0.6 s vs 4.8 s
    * at sf0.1), because a checkpoint re-materializes per call while
    * exchange reuse shares work inside the single plan. Degree is
    * pre-joined into the edge list so each round is one
    * (edges ⋈ ranks) broadcast join + one partial-agg shuffle + a
    * broadcast-left-join back to the node set.
    */
  def itemRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_partkey")
    val edges = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    val nodes = Tables.part(spark, sfDir).select($"p_partkey".as("v"))
    rankFixedPoint(nodes, edges)
      .select($"v".as("part_id"), $"r".as("rank_micro"))
      .orderBy($"part_id")
  }

  /** The [[itemRank]] iteration core over an arbitrary node set (`v`)
    * and directed edge list (`src`, `dst`, distinct): `Iters` rounds of
    * the micro-unit fixed point. Factored so the join/agg plumbing is
    * property-testable against a plain-Scala replay on random digraphs
    * (dangling nodes, multi-component) beyond the co-purchase build. */
  private[graft] def rankFixedPoint(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    // (src, dst, out-degree of src) — kept LAZY: the identical subtree
    // under every round dedupes to one ReusedExchange in the plan
    val edgesD = edges.join(deg, "src")
    var ranks = nodes.select($"v", lit(BaseMicro).as("r"))
    for (_ <- 1 to Iters) {
      val contribs = edgesD
        .join(ranks.select($"v".as("src"), $"r"), "src")
        .select($"dst".as("v"), expr("r div d").as("c"))
        .groupBy($"v").agg(sum($"c").as("c"))
      ranks = nodes
        .join(contribs, Seq("v"), "left")
        .select($"v",
          expr(s"$TeleportMicro + (85 * coalesce(c, cast(0 as bigint))) div 100")
            .as("r"))
      // NO per-iteration checkpoint: ranks is only referenced once per
      // round, so the 5-round lineage is a linear chain with no
      // recompute blow-up, and one lazy plan beats eager
      // materializations (measured: checkpointing each round was 10×
      // slower). At hundreds of iterations, or on a real cluster where
      // lineage length is the fault-recovery path, cut every ~10 rounds.
    }
    ranks
  }

  /** DuckDB replay: the same fixed-point arithmetic with the iteration
    * unrolled into one CTE per round (`//` = floor division, identical
    * to Spark's `div` on non-negative values; SUM is cast back from
    * DuckDB's HUGEINT).
    */
  lazy val itemRankOracle: String = {
    val iterCtes = (1 to Iters).map { t =>
      s"""r$t AS (
         |  SELECT n.v,
         |         CAST($TeleportMicro + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS v, CAST(SUM(r.r // e.d) AS BIGINT) AS c
         |    FROM edgesd e JOIN r${t - 1} r ON r.v = e.src GROUP BY e.dst
         |  ) s ON s.v = n.v
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |), deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
       |edgesd AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d ON e.src = d.src),
       |nodes AS (SELECT p_partkey AS v FROM part),
       |r0 AS (SELECT v, CAST($BaseMicro AS BIGINT) AS r FROM nodes),
       |$iterCtes
       |SELECT v AS part_id, r AS rank_micro FROM r$Iters ORDER BY part_id""".stripMargin
  }

  /** Triangle counting over the co-purchase graph with DEGREE
    * ORIENTATION — the second canonical distributed-graph workload
    * (cohesion/community signal; PageRank is the iterate-a-shuffle
    * shape, this is the bound-the-wedge-explosion shape).
    *
    * The naive wedge join explodes on hubs: Σ_v deg(v)² — one celebrity
    * node with deg 10⁶ contributes 10¹² wedges. Orienting every edge
    * from lower to higher (degree, id) rank caps every node's
    * OUT-degree at O(√m), so wedge count is Σ out² = O(m^1.5) — the
    * classic bound (Schank/Wagner; MapReduce form: Suri & Vassilvitskii
    * '11) and the standard hub-skew armor: the celebrity's edges all
    * point INTO it, it generates no wedges at all. Each triangle is
    * then counted exactly once (its unique lowest-rank apex emits the
    * wedge; the closing edge is oriented b→c by rank transitivity), so
    * no post-hoc dedup or /3 correction is needed. Per-part
    * participation counts come from exploding the (a,b,c) tuples.
    *
    * Plan shape — EDGE ITERATOR over sorted adjacency, not a wedge
    * join: materializing Σ out² wedge ROWS and shuffling them to the
    * closing join moves tens of millions of rows at sf0.1 (measured
    * 20.4 s); instead the out-neighbor list of every node is collected
    * once (state per node ≤ O(√m) by the orientation) and each edge
    * (u,v) intersects N⁺(u) ∩ N⁺(v) as a NARROW array op — the same
    * Θ(m^1.5) element-touches, but in-CPU per edge instead of
    * shuffled (measured 7.5 s vs 20.4 s at sf0.1, 2.7× — on a graph
    * of 1.2 M edges / 1.88 M triangles). The common neighbor w of
    * edge (u→v) closes triangle (u,v,w) exactly once (w is in both
    * out-lists only when u→w and v→w, and rank(u)<rank(v)<rank(w) by
    * transitivity), so per-node participation is: +|∩| to u and to v,
    * +1 to each w — three narrow contribution streams into one
    * partial-agg count. The oracle replays the SAME triangle set via
    * plain id-ordering (u<v<w) — orientation changes the work bound,
    * never the triangles.
    */
  def graphTriangles(spark: SparkSession, sfDir: String,
                     buckets: Int = 1): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_partkey")
    val und = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    triangleParticipation(und, buckets)
  }

  /** Counting core over an undirected edge list (`u` < `v`, distinct):
    * per-node triangle participation counts. Factored out of
    * [[graphTriangles]] so the orientation/tie-break logic is
    * property-testable against brute force on arbitrary random graphs,
    * not just the co-purchase build.
    *
    * `buckets` > 1 is the single-node memory-cliff remedy (round 11):
    * the one wide shuffle left in the plan — the dst-side adjacency
    * join over the m-row exploded probe — peaks at 35-50 GB of
    * spill/shuffle at sf10 (120 M edges) on one machine, which is a
    * HARDWARE bound, not a plan defect (on a cluster the per-executor
    * working set stays sf1-sized). Partitioning the probe by
    * pmod(hash(dst), B) and running the B passes as SEQUENTIAL jobs
    * caps the wide shuffle at ~m/B rows per pass; each pass reduces to
    * an n-row per-node partial (localCheckpoint — the same n-row
    * materialization the adjacency already pays) and the partials
    * union into the final sum. Per-node counts are additive over any
    * partition of the probe edges, so the split is semantics-free —
    * the property suite pins bucketed ≡ single-pass on random graphs.
    * Default stays 1 (below the cliff the extra job rounds only cost);
    * the serving query is unchanged. */
  private[graft] def triangleParticipation(und: DataFrame,
                                           buckets: Int = 1): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val deg = und.select($"u".as("n")).union(und.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    // orient low (deg, id) → high (deg, id)
    val oriented = und
      .join(deg.select($"n".as("u"), $"d".as("du")), "u")
      .join(deg.select($"n".as("v"), $"d".as("dv")), "v")
      .selectExpr(
        "case when du < dv or (du = dv and u < v) then u else v end as src",
        "case when du < dv or (du = dv and u < v) then v else u end as dst")
    // One adjacency row per node, out-list ≤ O(√m) by the orientation.
    // localCheckpoint: n rows (vs the m-row edge list) — reused by the
    // explode probe AND the dst-side join below.
    val adj = oriented.groupBy($"src")
      .agg(sort_array(collect_list($"dst")).as("nbrs"))
      .localCheckpoint()
    // Probe-join strategy, audited round 17 (guide §3.1): an explicit
    // broadcast of the adjacency on the dst side was built and MEASURED
    // — it regressed 10.4-13.2 s to 16.7-34.8 s at sf0.1 despite
    // removing the probe-side exchange, because AQE already rewrites
    // this SMJ to a runtime broadcast-hash join with local shuffle
    // reads (final-plan audit: BroadcastHashJoin BuildRight +
    // AQEShuffleRead in plans/r17/graph_triangles_before.txt run mode),
    // and the static hint traded that well-coalesced shape for an
    // unpartitioned explode stage. Rejected; the SMJ + AQE shape stays.
    // Edge iterator WITHOUT re-joining the edge list: adj came from
    // groupBy(src) over `oriented`, so exploding each out-list
    // regenerates exactly the (src, dst) edges with N⁺(src) already
    // attached — the first sf10 formulation shuffled the m-row
    // array-carrying intermediate through an extra join on src (the
    // spill driver at 120 M edges: 35-50 GB vs 28.6 GiB memory); this
    // leaves ONE wide shuffle (the dst-side adjacency join) in the plan.
    // Probe-side fan-out (round 18): the adjacency checkpoint inherits
    // its groupBy exchange's AQE byte-coalesced partitioning — ~10 MB
    // of adjacency at sf0.1 coalesces to ONE partition — and the probe
    // inherited it: the explode, the exchange WRITE of the
    // array-carrying probe rows (Σ out² elements, the plan's widest
    // stream), and the per-edge intersects in the local-read join
    // stage all ran near-serial (8-core/32-core ratio 0.56 — the
    // suite's worst anti-scaler; OPTIMIZATION_r18.md "graph_triangles",
    // step 2). One narrow n-row round-robin exchange to the
    // session's parallelism before the explode makes all of it P-way.
    // repartition(N) is AQE-stable (user-specified counts are not
    // coalesced) and scale-adaptive (defaultParallelism = cluster
    // cores); this is the measured fix for what the rejected round-17
    // broadcast hint got wrong (it removed the probe exchange but left
    // the explode stage unpartitioned).
    val probeSrc = adj.repartition(spark.sparkContext.defaultParallelism)
    def passCounts(bucket: Option[(Int, Int)]): DataFrame = {
      val probe = probeSrc
        .select($"src", $"nbrs".as("nu"), explode($"nbrs").as("dst"))
      val kept = bucket match {
        case Some((b, i)) => probe.where(pmod(hash($"dst"), lit(b)) === i)
        case None         => probe
      }
      // INNER join (round 17): the old left-outer + coalesce(nv, [])
      // was filtered by size(ws) > 0 anyway — a probe edge whose dst
      // has no out-list can never contribute, so inner is equivalent
      // (property suite + oracle unchanged) and cheaper: no null lane
      // through the intersect and a free build-side choice.
      val adjDst = adj.select($"src".as("dst"), $"nbrs".as("nv"))
      // All three contribution streams (+|∩| to u and v, +1 to each w)
      // in ONE native two-pointer merge per edge (tri_contribs, round
      // 18): the previous chain — array_intersect (hash-set per edge) +
      // size + filter + concat(array(struct,struct), transform(ws,…))
      // with its CodegenFallback lambda — materialized the intersection
      // and walked it twice more to build the same rows. tri_contribs
      // emits them directly from the sorted out-lists (empty array ⟺
      // the old size(ws) > 0 filter; exact integer SUM downstream, so
      // the aggregate is bit-identical). A 3-way union of selects was
      // already rejected earlier: exchange reuse does not cover the
      // explode side — measured three distinct dst exchanges.
      kept
        .join(adjDst, Seq("dst"))
        .select(explode(expr("tri_contribs(src, dst, nu, nv)")).as("c"))
        .select($"c.part_id".as("part_id"), $"c.n".as("ntri"))
        .groupBy($"part_id")
        .agg(sum($"ntri").as("n_triangles"))
    }
    val counts =
      if (buckets <= 1) passCounts(None)
      else {
        // eager localCheckpoint per pass = the passes run as SEQUENTIAL
        // jobs and each reduces to an n-row partial before the next
        // pass's wide shuffle starts — the peak-shuffle cap is the point
        val partials = (0 until buckets)
          .map(i => passCounts(Some((buckets, i))).localCheckpoint())
        val total = partials.reduce(_ union _)
          .groupBy($"part_id").agg(sum($"n_triangles").as("n_triangles"))
          // n rows — the only block a library caller keeps alive; the
          // B per-pass partials and the adjacency checkpoint are dead
          // once this sum is materialized, and without this sweep a
          // long-lived session accumulates B+1 persisted RDDs per call
          .localCheckpoint()
        (partials :+ adj).foreach(df =>
          df.queryExecution.analyzed.collectFirst {
            case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
          }.foreach(_.unpersist(blocking = false)))
        total
      }
    counts.orderBy($"part_id")
  }

  val graphTrianglesOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      |), nodes AS (
      |  SELECT unnest([a, b, c]) AS part_id FROM tri
      |)
      |SELECT part_id, count(*) AS n_triangles
      |FROM nodes GROUP BY 1 ORDER BY part_id""".stripMargin
}
