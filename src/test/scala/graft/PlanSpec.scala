package graft

import graft.analytics._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression pins for the claims in PLANS.md — the plan
  * SHAPE is the scale contract, and a refactor that silently loses a
  * pushdown, a broadcast, or an exchange reuse should fail loudly here
  * long before a 100 TB run finds out.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val sf = SparkTestBase.sf
  import spark.implicits._

  private def planString(df: DataFrame): String = {
    df.collect() // force AQE to finalize the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  /** The `== Final Plan ==` part of an executed AQE plan string. */
  private def finalPlan(plan: String): String =
    plan.split("== Initial Plan ==").head

  test("annSearchPqFrom: stored ADC serve scans codes only — no full-vector table in the plan") {
    import graft.textops.Pipelines
    val dir = java.nio.file.Files.createTempDirectory("graftpqplan").toString
    Pipelines.materializePq(spark, sf, dir)
    val queries = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val plan = planString(Pipelines.annSearchPqFrom(spark, dir, queries,
      excludeSelfId = true))
    assert(plan.contains("pq_codes"),
      "stored codes are not the candidate side of the serve join")
    assert(!plan.contains("ann_assign"),
      "the ADC serve read the full-vector table — the footprint claim is void")
  }

  test("item_rank: edge subtree dedupes to ReusedExchange across iterations") {
    val plan = planString(GraphAnalytics.itemRank(spark, sf))
    // one real exchange for the edge build + a ReusedExchange per
    // later round (the plan STRING prints referenced subtrees in
    // full, so scan-counting the text would over-count; the reuse
    // node count is the executable truth)
    val reused = "ReusedExchange".r.findAllIn(plan).size
    assert(reused >= 2,
      s"$reused ReusedExchange nodes — edge subtree recomputed per round")
  }

  test("bloom_join: probe stage is broadcast-only (no shuffle before confirm)") {
    val plan = planString(RelationalAnalytics.bloomJoin(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    // 3 bloom-word probes + the (broadcastable at test SF) confirm join
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
    assert(!plan.contains("SortMergeJoin"),
      "bloom probe degraded to a sort-merge join")
  }

  test("pricing_summary: filter pushed to scan, columns pruned") {
    val plan = planString(RelationalAnalytics.pricingSummary(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter not pushed to the parquet scan")
    // projection needs 7 lineitem columns; the scan must not read more
    val schema = "ReadSchema: [^\n]+".r.findFirstIn(plan).getOrElse("")
    assert(!schema.contains("l_orderkey") && !schema.contains("l_partkey"),
      s"scan reads unprojected columns: $schema")
  }

  test("hot_items_topn: rank filter pushes down as WindowGroupLimit") {
    val plan = planString(
      UserBehaviorAnalytics.hotItemsTopN(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      "per-window top-n rank not pushed below the full window sort")
  }

  test("hot_items_topn: KB-scale presentation sort runs in one task — no range exchange") {
    val plan = finalPlan(planString(UserBehaviorAnalytics.hotItemsTopN(spark, sf)))
    assert("Sort \\[[^\n]*\\], true, \\d+\n\\s*\\+- Coalesce 1\n".r
      .findFirstIn(plan).nonEmpty,
      s"the global Sort does not read a single-partition coalesce:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"the ORDER BY still samples and range-shuffles its input:\n$plan")
  }

  test("Probe full-output pass: hot_items_topn reports every row and keeps the global Sort that count() elides") {
    val q = SparkEntry.queries("hot_items_topn")
    val (rep, df) = graft.tools.Probe.rep(spark, sf, q, "spec")
    // read the plan BEFORE collect(), which would itself finalize it:
    // the full-output pass must have executed the frame's own plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"),
      "the full-output pass did not execute the frame's own plan")
    // SortExec prints `Sort [keys], <global>, ...`; global = true is the
    // presentation ORDER BY
    val globalSort = "Sort \\[[^\n]*\\], true".r
    assert(globalSort.findFirstIn(plan.split("== Initial Plan ==").head).nonEmpty,
      "the full-output plan lost the final global Sort")
    assert(rep.rows > 0 && rep.rows == df.collect().length)
    val counted = df.groupBy().count()
    counted.collect()
    assert(globalSort.findFirstIn(counted.queryExecution.executedPlan.toString).isEmpty,
      "count() kept the global Sort — the full-output pass measures nothing extra")
  }

  test("dedup_embedding_capped: both cell caps push down as WindowGroupLimit") {
    // the caps must PRUNE the cell exchange (map-side per-partition
    // top-k), not follow it — otherwise the capped tier still shuffles
    // the full 0.2·n² candidate feed it exists to avoid
    val plan = planString(graft.textops.Similarity
      .dedupEmbeddingCapped(spark, sf))
    val limits = "WindowGroupLimit".r.findAllIn(plan).size
    // each rewritten side contributes a partial AND a final node — 4
    // total. `>= 2` hid a real gap for five rounds: the probe cap
    // (1024+) exceeded Spark's default windowGroupLimitThreshold
    // (1000), so only the assign side was rewritten and the probe side
    // shuffled its full n·nProbe key stream (fixed in Session.tune +
    // the test session: threshold raised to 8192)
    assert(limits >= 4,
      s"expected both cap rank filters as WindowGroupLimit (partial+final each), got $limits")
  }

  test("ts_similarity_paa_capped: occupancy cap prunes as WindowGroupLimit; stored serve pushes srk to the scan") {
    // live tier: the per-signature rank filter must run map-side
    // before the sig exchange — the cap PRUNES the shuffle, it doesn't
    // follow it (the dedup_embedding_capped contract). Pinned on the
    // pre-checkpoint kept frame: the serving query checkpoints it, so
    // the final plan shows only a Scan ExistingRDD
    val plan = planString(
      TimeSeriesAnalytics.paaCappedKeptFor(spark, sf))
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected the sig cap rank filter as WindowGroupLimit (partial+final):\n$plan")
    // stored serve: the frozen cap is a literal, so srk ≤ cap reaches
    // the parquet scan as a pushed filter — bounded read by contract
    val dir = java.nio.file.Files.createTempDirectory("graftpaaplan").toString
    TimeSeriesAnalytics.materializePaa(spark, sf, dir)
    val q = spark.read.parquet(s"$dir/ts_paa_sig")
      .selectExpr("user_id as query_id", "arr")
    val servePlan = planString(
      TimeSeriesAnalytics.tsMatchPaaFrom(spark, dir, q))
    assert(servePlan.contains("LessThanOrEqual(srk"),
      s"srk cap filter not pushed to the stored scan:\n$servePlan")
  }

  test("events_compact: keep-latest rank pushes down as WindowGroupLimit") {
    val plan = planString(RelationalAnalytics.eventsCompact(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      "rn = 1 filter not pushed below the per-key window sort")
  }

  test("ngram_next: one exchange feeds both windows; rank prunes as WindowGroupLimit") {
    // pre-execution plan: the AQE final-plan STRING reprints child
    // stages, so counting there over-counts the same exchange
    val plan = graft.textops.TextStats.ngramNext(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank cut not pushed below the rank window")
    // the total window and the rank window must reuse one hash
    // exchange on EXACTLY (w1) — a second full-data exchange between
    // them would double the shuffle volume of the whole query
    val exchanges = "hashpartitioning\\(w1#\\d+, \\d+\\)".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 w1-only exchange, got $exchanges:\n$plan")
  }

  test("vocab_topv: top-V cut is TakeOrderedAndProject, not a global sort") {
    val plan = planString(graft.textops.TextStats.vocabTopV(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "orderBy+limit degraded to a full global Sort")
  }

  test("value_anomaly: one window pass — frame aggs share a single sort") {
    val raw = planString(RelationalAnalytics.valueAnomaly(spark, sf))
    // AQE prints "== Final Plan ==" THEN "== Initial Plan ==" — slice
    // out just the final section
    val start = raw.indexOf("Final Plan") max 0
    val end = raw.indexOf("Initial Plan") match {
      case -1 => raw.length case i => i
    }
    val plan = raw.substring(start, end)
    // Spark splits the fsumsq agg (projected _w0 input) into a second
    // Window node, but both share (partitionBy, orderBy, frame): there
    // must be NO re-sort or exchange between the two window passes
    val idxs = "\\+- Window ".r.findAllMatchIn(plan).map(_.start).toSeq
    assert(idxs.size == 2, s"${idxs.size} Window nodes in final plan")
    val between = plan.substring(idxs.head, idxs.last)
    assert(!between.contains("Sort ") && !between.contains("Exchange"),
      "second window pass re-sorts or re-shuffles")
  }

  test("decontamination: inverted-index equi-join, never a pair blowup") {
    val plan = planString(graft.textops.TextStats.decontamination(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "contamination probe degraded to an all-pairs join")
  }

  test("revenue_rollup: single Expand + single aggregate pair, dims broadcast") {
    val plan = planString(RelationalAnalytics.revenueRollup(spark, sf))
    assert("Expand".r.findAllIn(plan).size >= 1 &&
      "Expand".r.findAllIn(plan).size <= 2, "rollup not a single Expand")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      "dim chain not fully broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "a dim join degraded to sort-merge")
  }

  test("shipping_priority: date filters pushed, dim broadcast, top-N is TakeOrdered") {
    val plan = planString(RelationalAnalytics.shippingPriority(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      "orders date split not pushed to the parquet scan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      "lineitem date split not pushed to the parquet scan")
    assert("BroadcastHashJoin".r.findAllIn(plan).nonEmpty,
      "segment-filtered customer dim not broadcast")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-N degraded to a global sort")
  }

  test("bm25_rank: tf subtree checkpointed once; top-k is TakeOrdered") {
    val plan = planString(graft.textops.TextStats.bm25Rank(spark, sf))
    // hits is localCheckpoint'd: the executed plan must not re-run the
    // explode for the df dictionary branch
    assert(!plan.contains("Generate"),
      "explode recomputed above the checkpoint — tf subtree not shared")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k degraded to a global sort")
  }

  test("supplier_blame: per-order pipeline rides the join exchange — no Expand, no extra shuffle") {
    val plan = planString(RelationalAnalytics.supplierBlame(spark, sf))
    assert(!plan.contains("Expand"),
      "count-distinct rewrite appeared — two-level aggregate degraded to Expand")
    // one exchange per fact input + the tiny post-filter supplier agg;
    // a 4th fact-sized exchange would mean the per-order aggregates
    // did NOT reuse the orderkey join partitioning (count the FINAL
    // adaptive plan only — toString appends the pre-AQE Initial Plan,
    // which would double-count every exchange)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val factExchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(factExchanges <= 3,
      s"$factExchanges hash exchanges — per-order aggregate re-shuffled the join output:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k degraded to a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "supplier dim not broadcast")
  }

  test("phrase_search: postings materialized once; every stage a hash equi-join") {
    val plan = planString(graft.textops.TextStats.phraseSearch(spark, sf))
    // postings are localCheckpoint'd: the per-term consumers must not
    // re-run the posexplode subtree
    assert(!plan.contains("Generate"),
      "posexplode recomputed above the checkpoint — postings not shared")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "position offset fell out of the join key — adjacency degraded to a theta join")
  }

  test("corpus_drift: dictionaries broadcast; report cut is TakeOrdered") {
    val plan = planString(graft.textops.TextStats.corpusDrift(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k drift cut degraded to a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "vocab/count dictionaries not broadcast into the lattice join")
  }

  test("oov_rate: vocabulary probe is broadcast — token stream never sort-merges") {
    val plan = planString(graft.textops.TextStats.oovRate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "vocab probe not broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "token-vocab join degraded to sort-merge")
  }

  test("lang_rebalance: document rows see broadcast gates only, never a doc shuffle") {
    val plan = planString(graft.textops.Sampling.langRebalance(spark, sf))
    assert(!plan.contains("SortMergeJoin"),
      "a per-lang table join degraded to sort-merge on document rows")
  }

  test("dsir_select: bucket-weight probe broadcast; top-K cut is TakeOrderedAndProject") {
    val plan = planString(graft.textops.Sampling.dsirSelect(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-K selection degraded to a global sort")
    assert(!plan.contains("SortMergeJoin"),
      "the nBuckets-row weight table join degraded to sort-merge on the token stream")
  }

  test("user_retention: one user exchange + one matrix exchange before the sort") {
    val plan = planString(UserBehaviorAnalytics.userRetention(spark, sf))
    // the matrix subtree is checkpointed, so the executed plan above it
    // holds: broadcast sizes join + range sort only — no recompute
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      "sizes join or matrix recompute added a hash exchange above the checkpoint")
    assert(plan.contains("BroadcastHashJoin"), "cohort-size join not broadcast")
  }

  test("doc_chunks: narrow fan-out — no shuffle except the presentation sort") {
    val plan = planString(graft.textops.Packing.docChunks(spark, sf))
    // one range exchange for the ORDER BY; the chunk derivation itself
    // (sequence/explode/slice) must not add a hash exchange
    assert(!plan.contains("hashpartitioning"),
      "chunking added a hash shuffle — should be scan-speed narrow")
    // the sort reads a scan, not a materialized stage, so SmallGlobalSort
    // has no input size to judge: the range exchange stays
    assert(finalPlan(plan).contains("rangepartitioning"),
      s"a sort straight off a scan lost its range exchange:\n$plan")
  }

  test("embedding_centroids: partial aggregation before the (label,dim) exchange") {
    val plan = planString(graft.textops.Similarity.embeddingCentroids(spark, sf))
    // plan text prints top-down: the partial (map-side) aggregate must
    // appear BELOW the hash exchange, i.e. after it in the string
    val exchange = plan.indexOf("Exchange hashpartitioning")
    assert(exchange >= 0, "no hash exchange found")
    assert(plan.indexOf("HashAggregate", exchange) > exchange,
      "no map-side partial aggregate below the centroid shuffle")
  }

  test("pii_scrub: three regex passes stay narrow — no hash shuffle, 2-column scan") {
    val plan = planString(graft.textops.Scrub.piiScrub(spark, sf))
    assert(!plan.contains("hashpartitioning"),
      "scrubbing added a hash shuffle — should be scan-speed narrow")
    val schema = "ReadSchema: [^\n]+".r.findFirstIn(plan).getOrElse("")
    assert(!schema.contains("lang") && !schema.contains("source"),
      s"scan reads unprojected columns: $schema")
  }

  test("dedup_containment: verify joins broadcast at small corpus; candidate join on pid") {
    val plan = planString(graft.textops.Dedup.dedupContainment(spark, sf))
    // the test corpus sits below BroadcastVerifyMaxDocs — both verify
    // join-backs must be broadcast (the sf1 tier flips them, asserted
    // by the plan probe in BASELINE §sf1)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "verify join-backs lost their small-corpus broadcast")
  }

  test("similarity_ivf_trained: serve stage is an equi-join on cell + rank pushdown") {
    val plan = planString(
      graft.textops.Similarity.similarityIvfTrained(spark, sf))
    // training is quarantined behind the ranked localCheckpoint: the
    // SERVE plan must be the same shape as the seeded index — a hash
    // equi-join of probes×assign on cell (never a nested-loop pair
    // blowup) with the top-k cut pushed below the window sort
    assert(!plan.contains("CartesianProduct"),
      "trained-IVF serve stage degraded to a cartesian pair join")
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k not pushed below the window sort")
  }

  test("similarity_pq: ADC scores inline in the cell join; rank prunes pre-exchange") {
    val plan = planString(graft.textops.Similarity.similarityPq(spark, sf))
    // candidate generation must stay a hash equi-join on cell, the
    // ADC sum must NOT reintroduce a (pair × subspace) shuffle — no
    // aggregate between the cell join and the rank — and the top-k
    // must cut as a partial WindowGroupLimit before the query exchange
    // (that pre-exchange cut is why slim rows buy nothing — see
    // PLANS.md; a post-rank vector re-join measured slower at sf1)
    assert(!plan.contains("CartesianProduct"),
      "PQ candidate stage degraded to a cartesian pair join")
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k not pushed below the window sort")
    val rankIdx = plan.indexOf("WindowGroupLimit")
    // broadcast at test SF, shuffled at scale — match either join form
    val cellJoinIdx = "Join \\[cell".r.findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(cellJoinIdx > rankIdx,
      "expected the cell join below the rank stage with no aggregate between")
    assert(!plan.substring(rankIdx, cellJoinIdx).contains("HashAggregate"),
      "an aggregate crept between the cell join and the rank — the " +
        "exploded ADC shuffle shape is back (7.0 s vs 2.1 s at sf0.1)")
  }

  test("ngram_lm_score: scoring is equi-joins; counts partial-aggregate map-side") {
    val plan = planString(graft.textops.TextStats.ngramLmScore(spark, sf))
    // model/context lookups are (w1,w2)/(w1) hash joins — a nested-loop
    // there would be an all-pairs token blowup at corpus scale; the only
    // nested-loop allowed is the broadcast of the 1-row vocab size
    assert(!plan.contains("CartesianProduct"),
      "LM scoring degraded to a cartesian join")
    // the plan string may print a node twice (AQE initial + final), so
    // pin the KIND, not the count: every nested-loop occurrence must be
    // the condition-free Cross of the 1-row vsize broadcast
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    val scalarCross = "BroadcastNestedLoopJoin [^\n]*Cross".r.findAllIn(plan).size
    assert(bnlj == scalarCross,
      s"a non-scalar nested-loop join appeared ($scalarCross of $bnlj are the vsize cross)")
    // per-doc score aggregate must combine map-side before the doc_id exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "per-doc aggregate lost its partial (map-side) stage")
  }

  test("similarity_lsh_multiprobe: probe fan-out never touches the index side") {
    val plan = planString(
      graft.textops.Similarity.similarityLshMultiprobe(spark, sf))
    // the query side stacks srp_probes arrays; the index side must stay
    // on bare srp_sig signatures — probing an exploded index would
    // multiply stored bucket rows at scale instead of query rows
    assert(plan.contains("srpprobes("), "query side lost the probe expression")
    assert(plan.contains("srpsig("),
      "index side no longer computes bare signatures — probe fan-out leaked into the index")
  }

  test("similarity recall gates (lsh/lshmp/ivf/ivf_trained/pq): panel filter pushes below the rank window (gate is panel-bounded, not self-kNN)") {
    // the QA gate filters the approx side to the deterministic query
    // panel; Catalyst must push that modulo filter through the rank
    // window and into the bucket join's query branch, or recall at a
    // big tier silently pays the FULL n×topk self-kNN (measured: 28 s
    // panel-bounded vs out-of-disk at 200 k clustered — BASELINE
    // §SRP-LSH third decade)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window => LWindow}
    import graft.textops.Similarity
    val gates: Seq[(String, DataFrame)] = Seq(
      "lsh" -> Similarity.similarityRecallLsh(spark, sf, multiprobe = false),
      "lshmp" -> Similarity.similarityRecallLsh(spark, sf, multiprobe = true),
      "ivf" -> Similarity.similarityRecall(spark, sf),
      "ivf_trained" -> Similarity.similarityRecall(spark, sf, trained = true),
      "pq" -> Similarity.similarityRecallPq(spark, sf))
    for ((tier, df) <- gates) {
      val lp = df.queryExecution.optimizedPlan
      // only the per-QUERY rank windows must be panel-bounded; the
      // index-side assignment windows (PQ/IVF cell ranking, PARTITION
      // BY vec_id over ALL vectors) are correctly unfiltered — the
      // whole index must stay probe-able
      val windows = lp.collect {
        case w: LWindow if w.partitionSpec.exists(
          _.references.exists(_.name == "query_id")) => w }
      assert(windows.nonEmpty, s"$tier: rank window vanished from the plan")
      windows.foreach { w =>
        val pushed = w.collect {
          case f: Filter if f.condition.toString.contains("%") => f }
        assert(pushed.nonEmpty,
          s"$tier: panel modulo filter no longer below the rank window — " +
            s"the recall gate would run the full self-kNN:\n$lp")
      }
    }
  }

  test("graph_triangles: adjacency build + per-edge probes stay equi-join, never cartesian") {
    val plan = planString(GraphAnalytics.graphTriangles(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "triangle stages degraded to a cartesian/nested loop")
    assert(plan.contains("tricontribs") || plan.contains("array_intersect"),
      "edge-iterator intersect lost — wedge rows would materialize again")
  }

  test("graph_triangles: the m-row array-carrying intermediate shuffles ONCE (explode probe, round 10)") {
    // adj = groupBy(src) over the oriented edges, so explode(nbrs)
    // regenerates the edge list with N⁺(src) attached — re-joining it
    // on src would shuffle the wide intermediate a second time (the
    // sf10 spill driver: 513 s vs 360 s, 35-50 GB spill). Pin: the
    // physical plan holds at most TWO DISTINCT exchanges carrying an
    // array<> column — the two sides of the single dst-side adjacency
    // join (the explode itself is narrow; reuse across the three
    // contribution branches is ReusedExchange, not new shuffles). The
    // round-9 formulation had three (adj into the src join, then the
    // wide intermediate plus adj again into the dst join).
    val df = GraphAnalytics.graphTriangles(spark, sf)
    df.collect() // materialize AQE final plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeLike, ReusedExchangeExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => Nil // a reuse is not a new shuffle
      case other => (other.children ++ other.subqueries).flatMap(walk)
    })
    val arrayShuffles = walk(df.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeLike
          if s.output.exists(_.dataType.typeName.startsWith("array")) => s
    }
    // distinct by reference: AQE materializes each exchange once; the
    // same stage object can surface at several tree positions
    val distinct = arrayShuffles
      .groupBy(System.identityHashCode(_)).map(_._2.head).toSeq
    assert(distinct.size <= 2,
      s"${distinct.size} distinct shuffles carry adjacency arrays — the edge list is being re-joined on src again:\n" +
        distinct.map(s => s.simpleString(200)).mkString("\n"))
  }

  test("range_join: keyless range joins as a bucket equi-join, never a nested loop") {
    val plan = planString(DetectionAnalytics.rangeJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "keyless range join degraded to an O(n·m) nested loop / cartesian")
    assert(plan.contains("bucket"),
      "bucket key missing — the equi-join rewrite was lost")
  }

  test("text_normalize: keeper is a partial agg + join, never a window funnel") {
    import graft.textops.TextStats
    val plan = planString(TextStats.textNormalize(spark, sf))
    // the skew posture: a hot norm_hash must collapse in a map-side
    // partial min, not funnel through one WindowExec task
    assert(!plan.contains("Window"),
      "keeper degraded to a window — hot hash groups funnel into one task")
    assert("partial_min".r.findAllIn(plan).nonEmpty,
      "min(doc_id) lost its map-side partial aggregation")
    val schema = "ReadSchema: [^\n]+".r.findFirstIn(plan).getOrElse("")
    assert(!schema.contains("lang") && !schema.contains("source"),
      s"scan reads unprojected columns: $schema")
  }

  test("ngram_diversity: two-level distinct aggs, O(sources) results meet broadcast") {
    import graft.textops.TextStats
    val plan = planString(TextStats.ngramDiversity(spark, sf))
    assert(!plan.contains("SortMergeJoin"),
      "O(sources)-row join degraded to a sort-merge join")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "per-source aggregates no longer meet in broadcast joins")
  }

  test("mixture_plan: one corpus-width agg, planning math on 1-row broadcasts") {
    import graft.textops.Sampling
    val plan = planString(Sampling.mixturePlan(spark, sf))
    // the only data-width stage is the token-count partial agg
    assert("partial_(sum|count)".r.findAllIn(plan).nonEmpty,
      "token ledger lost its map-side partial aggregation")
    assert(!plan.contains("SortMergeJoin"),
      "ledger math degraded to a sort-merge join")
  }

  test("embedding_decontamination: broadcast panel + map-side partial max only") {
    import graft.textops.Similarity
    val plan = planString(Similarity.embeddingDecontamination(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "eval panel no longer broadcasts — train side would shuffle pairwise")
    assert("partial_max".r.findAllIn(plan).nonEmpty,
      "best-match max lost its map-side partial — the exchange would carry (train × eval) rows")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "screening degraded to a shuffled join")
  }
}
