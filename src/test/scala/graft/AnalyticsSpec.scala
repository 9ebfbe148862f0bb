package graft

import graft.analytics._
import graft.textops._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-query invariants on sf0.001 — semantic properties the DuckDB
  * hash-compare can't express (it only proves Spark == DuckDB, not that
  * either is the *right* computation).
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val sf = SparkTestBase.sf
  import spark.implicits._

  lazy val events = Tables.events(spark, sf).cache()

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("langRebalance: kept_total = 0 degenerate corpus reports 0.0 shares, not null/NaN") {
    // one doc → n_total div 2 = 0 → every p_keep = 0 → thresh = 0 →
    // nothing kept → kept_total is sum-over-empty NULL; the guard must
    // surface share_after = 0.0 (any NaN/null here is an engine-
    // representation divergence risk at the driver's hash gate)
    val one = Seq((1L, "en")).toDF("doc_id", "lang")
    val row = Sampling.langRebalanceFrom(one)
      .selectExpr("lang", "n_kept", "share_after").head()
    assert(row.getString(0) == "en")
    assert(row.getLong(1) == 0L)
    assert(row.getDouble(2) == 0.0 && !row.isNullAt(2))
  }

  test("dedup telemetry: filter funnel is monotone; df-cap curve is nested-monotone") {
    val stats = Dedup.dedupCandidateStats(spark, sf)
      .select("tier", "n_docs", "postings_full", "postings_filtered",
        "candidates", "survivors")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(stats.map(_._1).sorted.toSeq ==
      Seq("containment", "minhash_lsh", "minhash_lsh_capped",
        "ngram_jaccard", "ngram_jaccard_capped", "substring"))
    stats.foreach { case (tier, nDocs, full, filtered, cand, surv) =>
      assert(filtered <= full, s"$tier: filter added postings")
      assert(surv <= cand, s"$tier: verify created pairs")
      // candidate stage must beat the all-pairs blowup it exists to avoid
      assert(cand < nDocs * (nDocs - 1) / 2, s"$tier: candidates ~ n^2")
    }
    // the capped tier's funnel is pointwise ≤ the exact tier's
    val byTier = stats.map(s => s._1 -> s).toMap
    val (_, _, _, ef, ec, es) = byTier("ngram_jaccard")
    val (_, _, _, cf, cc, cs) = byTier("ngram_jaccard_capped")
    assert(cf <= ef && cc <= ec && cs <= es,
      "capped tier grew some funnel stage beyond the exact tier")
    val (_, _, _, mf, mc, ms) = byTier("minhash_lsh")
    val (_, _, _, xf, xc, xs) = byTier("minhash_lsh_capped")
    assert(xf <= mf && xc <= mc && xs <= ms,
      "capped LSH tier grew some funnel stage beyond the exact tier")
    // nested caps ⇒ every column non-decreasing in max_df
    val curve = Dedup.substringDfCurve(spark, sf)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    curve.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 <= hi._2 && lo._3 <= hi._3 && lo._4 <= hi._4,
          s"df-cap curve not monotone: $lo vs $hi")
      case _ => ()
    }
  }

  test("Session.tune AQE settings: a KB-scale shuffle coalesces to one task") {
    // pins the load-bearing bench config (BASELINE.md v2): byte-sized
    // AQE coalescing, not core-count-first — without it every tiny
    // shuffle fans out `parallelism` near-empty tasks. The shared
    // session is Session.tuneStreaming as built, no overrides.
    val parts = events.groupBy($"event_type").count().rdd.getNumPartitions
    assert(parts == 1, s"KB-scale shuffle used $parts partitions")
  }

  test("Bench totals: a failed query never lowers the headline and is named in failed") {
    import Bench.QRec
    val ok = Seq(QRec("a", 2.0, Seq(2.0, 2.0, 2.0), 0.0),
      QRec("d", 1.0, Seq(1.0, 1.0, 1.0), 6.0))
    val crashed = QRec("b", -1.0, Seq(3.0, -1.0, 3.0), 3.0,
      Some("java.lang.IllegalStateException"))
    val isDiag = Set("d")
    val before = Bench.totals(ok, isDiag)
    val after = Bench.totals(ok :+ crashed, isDiag)
    assert(before.serving == 2.0 && before.diag == 1.0 && before.all == 3.0)
    assert(after.serving == before.serving && after.all == before.all &&
      after.diag == before.diag, s"crash changed the sums: $after")
    assert(after.failed == Seq("b" -> "java.lang.IllegalStateException"))
    assert(before.failed.isEmpty)
  }

  test("every queries key has either an oracle or a documented reason") {
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled == Set("uv_approx"), s"unexpected un-oracled: $unoracled")
  }

  test("hot_items_topn: ranks are 1..5 per window, counts decreasing") {
    val df = UserBehaviorAnalytics.hotItemsTopN(spark, sf).cache()
    // unpersist after: the session is shared, and a cached result would
    // stand in for this query's plan in every later suite (PlanSpec)
    try {
      assert(df.count() > 0)
      assert(df.where($"rnk" < 1 || $"rnk" > 5).isEmpty)
      // within a window, cnt is non-increasing in rnk
      val bad = df.withColumn("prev", lag($"cnt", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"window_end").orderBy($"rnk")))
        .where($"prev".isNotNull && $"cnt" > $"prev")
      assert(bad.isEmpty)
    } finally df.unpersist()
  }

  test("page_views: windowed counts sum to total view count") {
    val total = events.where($"event_type" === "view").count()
    val summed = UserBehaviorAnalytics.pageViews(spark, sf)
      .agg(sum($"pv")).as[Long].head()
    assert(summed == total)
  }

  test("page_views_salted: bit-identical to the unsalted aggregate") {
    val plain = UserBehaviorAnalytics.pageViews(spark, sf)
    val salted = UserBehaviorAnalytics.pageViewsSalted(spark, sf)
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    // the salt spreads the hot key: stage-1 groups ≈ windows × buckets
    val windows = plain.count()
    val stage1 = events.where($"event_type" === "view")
      .select(window($"ts", "1 hour").getField("end").as("w"),
        pmod(hash($"event_id"), lit(8)).as("salt"))
      .groupBy($"w", $"salt").count().count()
    assert(stage1 > windows, "salt produced no key spread")
  }

  test("unique_visitors <= page_views per window; uv_approx within 5% of exact") {
    val pv = UserBehaviorAnalytics.pageViews(spark, sf)
    val uv = UserBehaviorAnalytics.uniqueVisitors(spark, sf)
    val joined = pv.join(uv, "window_end")
    assert(joined.where($"uv" > $"pv").isEmpty)
    val cmp = uv.join(UserBehaviorAnalytics.uvApprox(spark, sf), "window_end")
      .where(abs($"uv_approx" - $"uv") > greatest($"uv" * 0.05, lit(2.0)))
    assert(cmp.isEmpty)
  }

  test("uv_approx: HLL++ within 3·rsd of exact per window at sf0.01 AND sf0.1") {
    // the one unoracled query (HLL++ has no DuckDB replay) gets a
    // quantified gate at BOTH driver tiers, not just the sf0.001 the
    // sibling test above covers: per hour window, |approx − exact| must
    // sit inside 3·rsd (rsd = 0.01 in uvApprox) with a floor of 2 for
    // the near-empty windows where relative bands are meaningless.
    // HLL++ is deterministic for a given input set — a stable gate.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val uv = UserBehaviorAnalytics.uniqueVisitors(spark, dir)
      val joined = uv.join(UserBehaviorAnalytics.uvApprox(spark, dir),
        "window_end").cache()
      assert(joined.count() > 0, s"tier $dir: no windows joined")
      val bad = joined
        .where(abs($"uv_approx" - $"uv") > greatest($"uv" * 0.03, lit(2.0)))
      assert(bad.isEmpty, s"tier $dir: HLL++ outside the 3·rsd band")
      joined.unpersist()
    }
  }

  test("uv_approx_kmv: exact below K distinct, within 20% above") {
    // sf0.001 windows all have < 256 distinct users → estimate must be
    // the EXACT count; the sketch regime is exercised on a synthetic
    // column with > K distinct values
    val uv = UserBehaviorAnalytics.uniqueVisitors(spark, sf)
    val kmv = UserBehaviorAnalytics.uvApproxKmv(spark, sf)
    val small = uv.join(kmv, "window_end")
      .where($"uv" < 256 && $"uv_kmv" =!= $"uv".cast("double"))
    assert(small.isEmpty)
    val big = uv.join(kmv, "window_end").where($"uv" >= 256)
      .where(abs($"uv_kmv" - $"uv") > $"uv" * 0.2)
    assert(big.isEmpty)
  }

  test("uv_approx_kmv sketch regime: estimate within 20% at 5000 distinct") {
    // no test-SF window exceeds K=256 distinct, so the estimator branch
    // needs synthetic ids — run the KMV core on 5000 salted hashes
    val n = 5000
    val hashes = spark.range(n).selectExpr(
      "timestamp '2024-01-01 01:00:00' as window_end",
      "poly_hash(concat(cast(id as string), '-kmv')) as h").distinct()
    val est = UserBehaviorAnalytics.kmvFrom(hashes)
      .select($"uv_kmv").as[Double].head()
    assert(math.abs(est - n) < n * 0.2, s"sketch estimate $est for $n distinct")
  }

  test("minhash_error: estimates are k-quantized, exact side in range, mean error small") {
    val e = Dedup.minhashError(spark, sf).cache()
    assert(e.count() > 0)
    assert(e.where($"j_exact" < 0 || $"j_exact" > 1).isEmpty)
    // K = 8 signature agreement only takes values m/8
    assert(e.where(expr("abs(j_est * 8 - round(j_est * 8)) > 1e-9")).isEmpty)
    // the K = 8 sketch's measured mean error on this corpus — a marker
    // regression (e.g. a broken rehash family) blows far past this
    assert(e.agg(avg($"abs_err")).head.getDouble(0) < 0.1)
  }

  test("retention_kmv: exact-regime identity, sketch-regime bound, invariants") {
    val est = UserBehaviorAnalytics.retentionKmv(spark, sf).cache()
    assert(est.count() > 0)
    assert(est.where($"jaccard" < 0 || $"jaccard" > 1).isEmpty)
    assert(est.where(expr("day_next <> date_add(day, 1)")).isEmpty)
    val daily = Tables.events(spark, sf)
      .selectExpr("to_date(ts) as day", "user_id").distinct()
    val exactRet = daily.as("a").join(daily.as("b"),
        expr("date_add(a.day, 1) = b.day and a.user_id = b.user_id"))
      .groupBy($"a.day".as("day"))
      .agg(countDistinct($"a.user_id").as("ex"))
    val exactUnion = daily.unionByName(
        daily.selectExpr("date_add(day, -1) as day", "user_id")).distinct()
      .groupBy($"day").agg(countDistinct($"user_id").as("un"))
    val cmp = est.join(exactRet, Seq("day"), "left_outer")
      .join(exactUnion, "day")
      .withColumn("ex", coalesce($"ex", lit(0L)))
    // a union that fits the sketch (< K=256) makes every estimate
    // exact: est_retained must EQUAL the true day-over-day overlap
    val small = cmp.where($"un" < 256)
      .where(abs($"est_retained" - $"ex") > 1e-9)
    assert(small.isEmpty, "exact-regime estimate diverged from truth")
    // sketch regime: bounded relative error (deterministic data+hash)
    val big = cmp.where($"un" >= 256)
      .where(abs($"est_retained" - $"ex") > $"ex" * 0.35 + lit(16.0))
    assert(big.isEmpty, "sketch-regime estimate outside the error band")
  }

  test("dedup_embedding (IVF candidates): precision 1 vs exact all-pairs") {
    // every reported pair must appear in the exact brute-force pair set
    // with the same cosine (IVF may MISS pairs, never invent them)
    val ivf = Similarity.dedupEmbedding(spark, sf).cache()
    val e = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .selectExpr("vec_id", "v", "sqrt(vec_dot(v, v)) as nrm")
    val exact = e.select($"vec_id".as("vec1"), $"v".as("v1"), $"nrm".as("n1"))
      .join(e.select($"vec_id".as("vec2"), $"v".as("v2"), $"nrm".as("n2")),
        $"vec1" < $"vec2")
      .withColumn("cosine", expr("vec_dot(v1, v2) / (n1 * n2)"))
      .where($"cosine" >= 0.4)
      .select($"vec1", $"vec2", $"cosine")
    assert(ivf.count() > 0)
    assert(ivf.except(exact).isEmpty, "IVF emitted a pair not in the exact set")
  }

  test("dedup_embedding_capped: no-op at correctness tiers, binding caps never add or rescore") {
    val uncapped = Similarity.dedupEmbedding(spark, sf).cache()
    val capped = Similarity.dedupEmbeddingCapped(spark, sf)
    // auto caps resolve to a no-op at the correctness tiers: output
    // bit-identical to the uncapped tier
    assert(capped.except(uncapped).isEmpty && uncapped.except(capped).isEmpty,
      "auto-capped output diverged from uncapped at a correctness tier")
    // pin the cap schedule: the first rung must keep ≥2× headroom over
    // the measured correctness-tier occupancy maxima (assign 42/79,
    // probe 204/410 at sf0.01/sf0.1) — a future edit that shrinks a
    // rung below those breaks the bit-identity the oracle spec claims
    assert(Similarity.autoCapAssign(500) == 192 &&
      Similarity.autoCapProbe(500) == 1024)
    assert(Similarity.autoCapAssign(65537) == 288 &&
      Similarity.autoCapProbe(65537) == 1536)
    assert(Similarity.autoCapAssign(5000000L) == 384 &&
      Similarity.autoCapProbe(5000000L) == 2048)
    // binding caps: a 2-vector core per cell must still be SOUND —
    // capped ⊆ uncapped row-for-row (the cap removes candidate pairs,
    // never invents or rescores them) and strictly smaller here
    val tiny = Similarity.dedupEmbeddingCapped(spark, sf,
      capAssign = 2, capProbe = 4).cache()
    assert(tiny.join(uncapped, Seq("vec1", "vec2", "cosine"), "left_anti")
      .isEmpty, "binding cap invented or rescored a pair")
    assert(tiny.count() < uncapped.count(),
      "a 2-per-cell core cannot retain every pair of this corpus")
  }

  test("dedup_embedding_capped_curve: row i == the capped query at (capA_i, capP_i); cumulative") {
    // forced-small base caps so the nested levels {cap/4, cap/2, cap,
    // 2·cap} genuinely bind at this tier (the auto caps are proven
    // no-ops here, which would pin nothing)
    val curve = Similarity.dedupEmbeddingCappedCurve(spark, sf,
      capAssign = 8, capProbe = 16)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.length == 4)
    assert(curve.map(_._1).toSeq == Seq(2L, 4L, 8L, 16L) &&
      curve.map(_._2).toSeq == Seq(4L, 8L, 16L, 32L))
    // nesting makes the curve cumulative: both columns monotone
    assert(curve.sliding(2).forall { case Array(a, b) =>
      a._3 <= b._3 && a._4 <= b._4 })
    // the contract: row i's survivor count IS dedupEmbeddingCapped run
    // at exactly that level's caps — the curve reads as recall directly
    for ((ca, cp, _, nDup) <- curve) {
      val direct = Similarity.dedupEmbeddingCapped(spark, sf,
        capAssign = ca.toInt, capProbe = cp.toInt).count()
      assert(direct == nDup,
        s"curve row (capA=$ca, capP=$cp) disagrees with the direct capped run")
    }
  }

  test("dedup_embedding_incremental: verdict per new vector, matches ⊆ the batch pair set") {
    val inc = Similarity.dedupEmbeddingIncremental(spark, sf).cache()
    val nNew = Tables.embeddings(spark, sf)
      .where(expr("poly_hash37(concat(cast(vec_id as string), '-incr')) % 10 = 0"))
      .count()
    // exactly one verdict row per gated-new vector
    assert(inc.count() === nNew && nNew > 0)
    assert(inc.select($"vec_id").distinct().count() === nNew)
    // verdict consistency: keep ⇔ no dup found ⇔ n_dups = 0
    assert(inc.where($"keep" =!= ($"dup_of".isNull)).isEmpty)
    assert(inc.where(($"n_dups" === 0L) =!= $"keep").isEmpty)
    // soundness: every reported best match is a pair the batch tier
    // also finds, with the identical cosine (incremental probes the
    // same index one-sidedly — it may MISS pairs, never invent them)
    val pairs = Similarity.dedupEmbedding(spark, sf)
    val claimed = inc.where(!$"keep")
      .select(least($"vec_id", $"dup_of").as("vec1"),
        greatest($"vec_id", $"dup_of").as("vec2"),
        $"best_cosine".as("cosine"))
    assert(claimed.join(pairs, Seq("vec1", "vec2", "cosine"), "left_anti")
      .isEmpty, "incremental reported a match the batch tier doesn't have")
  }

  test("dedup_embedding_capped: key-join hint regimes are value-identical") {
    // past ~10⁷ vectors the C·cap key sets outgrow the broadcast
    // comfort zone and keyHint falls back to a plain equi-join — a
    // HINT, never semantics. Force both regimes at the same geometry
    // (cap products straddling the 4M-row line) and pin bit-identity.
    val broadcastSide = Similarity.dedupEmbeddingCapped(spark, sf,
      nCentroids = 20, capAssign = 400, capProbe = 1000) // 20k/0.4M: broadcast
    val plainSide = Similarity.dedupEmbeddingCapped(spark, sf,
      nCentroids = 20, capAssign = 400_000, capProbe = 1_000_000) // over the line
    // the huge caps are no-ops at this tier (occupancy ≪ cap), so both
    // runs see identical kept sets — only the join strategy differs
    assert(broadcastSide.except(plainSide).isEmpty &&
      plainSide.except(broadcastSide).isEmpty,
      "join-hint regime changed the capped pair output")
  }

  test("dedup_embedding_clusters: partition of all vectors; closure of the capped pair set") {
    val vecs = Tables.embeddings(spark, sf).select($"vec_id").cache()
    val clusters = Similarity.dedupEmbeddingClusters(spark, sf).cache()
    // every vector appears exactly once (isolated ones as singletons)
    assert(clusters.count() === vecs.count())
    assert(clusters.select($"vec_id").except(vecs).isEmpty)
    // cluster_id = min member; keeper iff vec == cluster; sizes consistent
    assert(clusters.groupBy($"cluster_id").agg(min($"vec_id").as("m"))
      .where($"cluster_id" =!= $"m").isEmpty)
    assert(clusters.where($"is_keeper" =!= ($"vec_id" === $"cluster_id")).isEmpty)
    assert(clusters.groupBy($"cluster_id", $"cluster_size").count()
      .where($"cluster_size" =!= $"count").isEmpty)
    // closure: no capped near-dup pair straddles two clusters, and the
    // corpus genuinely has non-singleton semantic groups to close over
    val pairs = Similarity.dedupEmbeddingCapped(spark, sf).cache()
    assert(pairs.count() > 0)
    val split = pairs
      .join(clusters.select($"vec_id".as("vec1"), $"cluster_id".as("c1")), "vec1")
      .join(clusters.select($"vec_id".as("vec2"), $"cluster_id".as("c2")), "vec2")
      .where($"c1" =!= $"c2")
    assert(split.isEmpty)
    // keepers = number of components
    assert(clusters.where($"is_keeper").count() ===
      clusters.select($"cluster_id").distinct().count())
  }

  test("embedding_spectrum: moment table shape + Jacobi shares separate aligned low-rank from isotropic") {
    // shape: full upper triangle of the 64×64, every row carrying the
    // corpus count, positive diagonal variance
    val rows = Similarity.embeddingSpectrum(spark, sf).cache()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(rows.count() === 64L * 65 / 2)
    assert(rows.where($"n" =!= nVecs).isEmpty)
    assert(rows.where($"dim_i" === $"dim_j" && $"cov" <= 0.0).isEmpty,
      "a diagonal (variance) entry must be strictly positive")
    // the Jacobi pass: exact shares on a known diagonal matrix
    val diag = Array.tabulate(8, 8)((i, j) =>
      if (i == j) (8 - i).toDouble else 0.0)
    val s = Similarity.spectrumShares(diag, Seq(1, 2, 8))
    assert(math.abs(s(1) - 8.0 / 36) < 1e-12 &&
      math.abs(s(2) - 15.0 / 36) < 1e-12 && math.abs(s(8) - 1.0) < 1e-12)
    // rotated rank-1 + isotropic floor: top-1 share must recover the
    // planted spectrum share regardless of basis (eigenvalues are
    // rotation-invariant — the property per-DIMENSION variance lacks)
    val d = 16
    val u = Array.tabulate(d)(i => 1.0 / math.sqrt(d.toDouble))
    val planted = Array.tabulate(d, d)((i, j) =>
      9.0 * u(i) * u(j) + (if (i == j) 0.5 else 0.0))
    val p = Similarity.spectrumShares(planted, Seq(1, 4))
    val want1 = 9.5 / (9.0 + 0.5 * d)
    assert(math.abs(p(1) - want1) < 1e-9,
      s"rank-1 share: got ${p(1)}, want $want1")
    // the decision separation: the testdata corpus is near-uniform
    // (structure-free), so its top-4 share must sit near the isotropic
    // floor 4/64 — the 'widen the re-rank pool' side of the rule; the
    // globally-aligned tiers measured in BASELINE sit far above it
    val corpus = Similarity.spectrumTopShares(spark, sf, Seq(4))
    assert(corpus(4) < 2.5 * 4.0 / 64,
      s"uniform corpus read as globally aligned: share(top4)=${corpus(4)}")
  }

  test("tx_match: status counts partition the tx universe") {
    val df = DetectionAnalytics.txMatch(spark, sf).cache()
    val pays = df.where($"pay_cnt" > 0).count()
    val matched = df.where($"status" === "matched").count()
    val unPay = df.where($"status" === "unmatched-pay").count()
    val unRcpt = df.where($"status" === "unmatched-receipt").count()
    assert(matched + unPay == pays)
    assert(matched + unPay + unRcpt == df.count())
    // no row is both sides empty
    assert(df.where($"pay_cnt" === 0 && $"receipt_cnt" === 0).isEmpty)
  }

  test("order_timeout: every signup classified; pay within deadline iff payed") {
    val df = DetectionAnalytics.orderTimeout(spark, sf).cache()
    val signups = events.where($"event_type" === "signup").count()
    assert(df.count() == signups)
    assert(df.where($"status" === "payed successfully" && $"pay_ts".isNull).isEmpty)
    assert(df.where($"status" === "timeout" && $"pay_ts".isNotNull).isEmpty)
  }

  test("login_fail_detect: all pairs within 30 minutes, ordered") {
    val df = DetectionAnalytics.loginFailDetect(spark, sf)
    assert(df.where($"last_fail" < $"first_fail").isEmpty)
    assert(df.where(
      unix_micros($"last_fail") - unix_micros($"first_fail") > 30L * 60 * 1000000).isEmpty)
  }

  test("blacklist: filtered stream + blacklisted clicks = all clicks") {
    val clicks = events.where($"event_type" === "click").count()
    val kept = MarketingAnalytics.blacklistFilteredClicks(spark, sf).count()
    val warned = MarketingAnalytics.blacklistUsers(spark, sf)
      .agg(sum($"click_cnt")).as[Long].head()
    assert(kept + warned == clicks)
  }

  test("pricing_summary: count_order sums to filtered lineitem count") {
    val df = RelationalAnalytics.pricingSummary(spark, sf)
    val n = df.agg(sum($"count_order")).as[Long].head()
    val expected = Tables.lineitem(spark, sf)
      .where($"l_shipdate" <= lit("1998-09-02").cast("timestamp")).count()
    assert(n == expected)
  }

  test("dedup_exact: dup counts sum to document count") {
    val docs = Tables.documents(spark, sf).count()
    val df = Dedup.dedupExact(spark, sf)
    assert(df.agg(sum($"dup_cnt")).as[Long].head() == docs)
  }

  test("dedup_clusters: partition of all docs; labels = transitive closure of pairs") {
    val docs = Tables.documents(spark, sf).select($"doc_id").cache()
    val clusters = Dedup.dedupClusters(spark, sf).cache()
    // every document appears exactly once
    assert(clusters.count() == docs.count())
    assert(clusters.select($"doc_id").except(docs).isEmpty)
    // cluster_id is the min doc_id of its members; keeper iff doc == cluster
    val badMin = clusters.groupBy($"cluster_id")
      .agg(min($"doc_id").as("m"), count(lit(1)).as("n"))
      .where($"cluster_id" =!= $"m")
    assert(badMin.isEmpty)
    assert(clusters.where($"is_keeper" =!= ($"doc_id" === $"cluster_id")).isEmpty)
    // sizes are consistent
    val badSize = clusters.groupBy($"cluster_id", $"cluster_size").count()
      .where($"cluster_size" =!= $"count")
    assert(badSize.isEmpty)
    // every near-dup pair landed in one cluster (closure over the edge set)
    val pairs = Dedup.minhashLsh(spark, sf).select($"doc1", $"doc2")
    val split = pairs
      .join(clusters.select($"doc_id".as("doc1"), $"cluster_id".as("c1")), "doc1")
      .join(clusters.select($"doc_id".as("doc2"), $"cluster_id".as("c2")), "doc2")
      .where($"c1" =!= $"c2")
    assert(split.isEmpty)
    // keepers = number of components; dropping non-keepers dedups the corpus
    val keepers = clusters.where($"is_keeper").count()
    val comps = clusters.select($"cluster_id").distinct().count()
    assert(keepers == comps)
    // multi-evidence clustering only MERGES single-evidence clusters
    // (its edge set is a superset): no minhash cluster may split
    val multi = Dedup.dedupClustersMulti(spark, sf)
    val split2 = clusters.select($"doc_id", $"cluster_id".as("c1"))
      .join(multi.select($"doc_id", $"cluster_id".as("c2")), "doc_id")
      .groupBy($"c1").agg(countDistinct($"c2").as("n"))
      .where($"n" > 1)
    assert(split2.isEmpty)
  }

  test("similarity_sq8: int8 approx score stays within quantization error of exact") {
    val df = Similarity.similaritySq8(spark, sf).cache()
    assert(df.count() > 0)
    // per-vector symmetric int8: worst-case per-element error 1/127 of
    // scale; with 64 dims and unit-normalized synthetic vectors the
    // approx cosine lands well within 0.05 of exact in practice
    val worst = df.select(max(abs($"approx_cosine" - $"cosine"))).as[Double].head()
    assert(worst < 0.05, s"quantization error too large: $worst")
    assert(df.where($"rnk" < 1 || $"rnk" > 5).isEmpty)
  }

  test("corpus_sample: deterministic split, quota respected, stable under re-run") {
    val s1 = Sampling.corpusSample(spark, sf).cache()
    // quota: at most 50 docs per (lang, split); ranks contiguous from 1
    val over = s1.groupBy($"lang", $"split").agg(count(lit(1)).as("n"), max($"smp_rank").as("mx"))
      .where($"n" > 50 || $"n" =!= $"mx")
    assert(over.isEmpty)
    assert(s1.where(!$"split".isin("train", "val", "test")).isEmpty)
    // determinism: a second run selects the identical sample
    val s2 = Sampling.corpusSample(spark, sf)
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
    // the hash split is ~90/5/5 over the full corpus (before quota):
    // loose bound only — 500 docs
    val full = Tables.documents(spark, sf)
      .selectExpr("poly_hash(cast(doc_id as string)) % 100 as b")
    val trainFrac = full.where($"b" < 90).count().toDouble / full.count()
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train fraction $trainFrac")
  }

  test("corpus_shuffle: a permutation, contiguous per-shard positions, seed changes order") {
    val docs = Tables.documents(spark, sf).select($"doc_id")
    val s1 = Sampling.corpusShuffle(spark, sf).cache()
    // every document appears exactly once (it's a permutation)
    assert(s1.count() === docs.count())
    assert(s1.select($"doc_id").except(docs).isEmpty &&
      docs.except(s1.select($"doc_id")).isEmpty)
    // positions are contiguous 1..n within each shard, shards in range
    val bad = s1.groupBy($"shard").agg(count(lit(1)).as("n"),
        max($"pos").as("mx"), min($"pos").as("mn"))
      .where($"n" =!= $"mx" || $"mn" =!= 1)
    assert(bad.isEmpty)
    assert(s1.where($"shard" < 0 || $"shard" >= 8).isEmpty)
    // deterministic: identical on re-run
    val s2 = Sampling.corpusShuffle(spark, sf)
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
    // a different seed is a genuinely different permutation
    val s3 = Sampling.corpusShuffle(spark, sf, seed = 43)
    assert(s1.join(s3, Seq("doc_id", "shard", "pos")).count() < s1.count())
  }

  test("embedding_outliers: exact per-label pct cut, outliers are the least prototypical") {
    val o = Similarity.embeddingOutliers(spark, sf).cache()
    assert(o.count() === Tables.embeddings(spark, sf).count())
    // the flag is exactly rnk*100 <= n_label*5: per label, outlier
    // count == floor(n*5/100) and ranks are contiguous 1..n
    val perLabel = o.groupBy($"label").agg(count(lit(1)).as("n"),
        max($"rnk").as("mx"),
        sum(when($"is_outlier", 1L).otherwise(0L)).as("n_out"))
    assert(perLabel.where($"n" =!= $"mx" || $"n_out" =!= expr("n * 5 div 100")).isEmpty)
    // every outlier scores at or below every keeper of the same label
    val cut = o.groupBy($"label").agg(
      max(when($"is_outlier", $"proto_cos")).as("worst_out"),
      min(when(!$"is_outlier", $"proto_cos")).as("best_keep"))
    assert(cut.where($"worst_out" > $"best_keep").isEmpty)
  }

  test("dsir_select: top-K non-target docs, scores descending, mean-weight exact") {
    val sel = Sampling.dsirSelect(spark, sf).cache()
    // selection never returns a target-source document
    assert(sel.where($"source".isin("src0", "src1", "src2", "src3")).isEmpty)
    // dense ranks 1..K with K = min(topK, non-target docs)
    val n = sel.count()
    assert(sel.agg(max($"sel_rank")).head.getInt(0) === n.toInt)
    assert(sel.select(countDistinct($"sel_rank")).head.getLong(0) === n)
    // scores are non-increasing in rank (the top-K cut is genuine)
    val inverted = sel.as("a").join(sel.as("b"),
      $"a.sel_rank" < $"b.sel_rank" && $"a.score" < $"b.score")
    assert(inverted.isEmpty)
    // score is exactly the mean nano-rate weight: score_q / n_tokens
    val bad = sel.where(
      $"score" =!= ($"score_q".cast("double") / $"n_tokens"))
    assert(bad.isEmpty)
  }

  test("token_cms: never undercounts; overcount within the e/B·N bound; collisions real") {
    val cms = Sketch.tokenCms(spark, sf).cache()
    // Count-Min's one-sided guarantee: est >= exact, always
    assert(cms.where($"est_cnt" < $"exact_cnt").isEmpty)
    // classic accuracy bound: overcount <= (e/B)·N (N = total tokens)
    val n = Tables.documents(spark, sf)
      .selectExpr(s"explode(${graft.textops.TextHash.tokensSpark}) as t")
      .count()
    val bound = math.ceil(math.E * n / 64).toLong
    assert(cms.where($"overcount" > bound).isEmpty,
      s"an overcount exceeded the e/B bound $bound")
    // the B=64 sketch genuinely collides on this corpus (the bound is
    // exercised, not vacuous) AND min-over-K rescues most hitters
    val over = cms.where($"overcount" > 0).count()
    assert(over > 0 && over < cms.count())
  }

  test("corpus_prep: exactly the keeper ∩ quality ∩ train-split intersection") {
    val prep = Sampling.corpusPrep(spark, sf).cache()
    val stats = TextStats.textStats(spark, sf)
      .where($"quality" >= 0.5).select($"doc_id")
    val keepers = Dedup.dedupClusters(spark, sf)
      .where($"is_keeper").select($"doc_id")
    val train = Tables.documents(spark, sf)
      .selectExpr("doc_id").where(expr("poly_hash(cast(doc_id as string)) % 100 < 90"))
    val want = stats.intersect(keepers).intersect(train)
    assert(prep.select($"doc_id").except(want).isEmpty)
    assert(want.except(prep.select($"doc_id")).isEmpty)
    assert(prep.count() > 0)
  }

  test("span_dedup: keep-first per distinct span, documents reassemble in order") {
    // controlled corpus, span=3: doc 1 is the original; doc 2 repeats
    // doc 1's first span then adds its own; doc 3 repeats one of its
    // OWN spans (intra-doc dup — second copy must drop too)
    val docs = Seq(
      (1L, "a b c d e f"),            // spans: [a b c] [d e f]
      (2L, "a b c x y z"),            // [a b c] (dup of doc1) [x y z]
      (3L, "p q r p q r"),            // [p q r] [p q r] — self-dup
      (4L, "unique words only here")) // [unique words only] [here]
    val dir = java.nio.file.Files.createTempDirectory("graft_span").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang", "'test' as source",
        "cast(length(text) as long) as n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Dedup.spanDedup(spark, dir, span = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def row(id: Long) = out(id)
    assert(row(1L) == ("a b c d e f", 2L, 0L))
    assert(row(2L) == ("x y z", 2L, 1L))
    assert(row(3L) == ("p q r", 2L, 1L))
    assert(row(4L) == ("unique words only here", 2L, 0L))

    // corpus invariants at the sf tier: kept spans == distinct spans
    // (keep-first keeps exactly one copy of each), and untouched docs
    // reassemble to their original text verbatim
    val sfOut = Dedup.spanDedup(spark, sf).cache()
    val kept = sfOut.agg(sum($"n_spans" - $"n_dropped")).head.getLong(0)
    val distinctSpans = Tables.documents(spark, sf)
      .selectExpr("doc_id", "split(text, ' ') as toks")
      .selectExpr(
        """explode(transform(
          |  sequence(0, cast(ceil(size(toks) / 20.0) as int) - 1),
          |  si -> array_join(slice(toks, si * 20 + 1, 20), ' '))) as s""".stripMargin)
      .distinct().count()
    assert(kept == distinctSpans)
    val untouched = sfOut.where($"n_dropped" === 0)
      .join(Tables.documents(spark, sf), "doc_id")
      .where($"clean_text" =!= $"text")
    assert(untouched.isEmpty)
    sfOut.unpersist()
  }

  test("dedup pairs are strictly ordered (doc1 < doc2), no self-pairs") {
    for (df <- Seq(Dedup.minhashLsh(spark, sf), Dedup.simhashDedup(spark, sf),
                   Dedup.ngramJaccard(spark, sf))) {
      assert(df.where($"doc1" >= $"doc2").isEmpty)
    }
  }

  test("ngram_jaccard: jaccard in (0, 1]") {
    val df = Dedup.ngramJaccard(spark, sf)
    assert(df.where($"jaccard" <= 0 || $"jaccard" > 1).isEmpty)
  }

  test("ngram_jaccard_capped: cap drops exactly the boilerplate-only pairs, keeps genuine dups") {
    // Synthetic corpus where the cap BINDS (the sf tiers never bind it,
    // so the oracle gate alone can't exercise this branch): 10 docs
    // sharing a 30-word boilerplate run + 6 unique words each (their
    // pairwise similarity IS the boilerplate: J = 28/40 = 0.7), one
    // genuine near-dup pair with rare shingles only, 5 unrelated docs.
    val boiler = (1 to 30).map(i => s"b$i").mkString(" ")
    val near = (1 to 40).map(i => s"n$i").mkString(" ")
    val docs =
      (1 to 10).map(i => (i.toLong, s"$boiler u${i}x u${i}y u${i}z u${i}p u${i}q u${i}r")) ++
      Seq((20L, s"$near tail1"), (21L, s"$near tail2")) ++
      (30 to 34).map(i => (i.toLong, (1 to 20).map(j => s"f${i}w$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang", "'test' as source",
        "cast(length(text) as long) as n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val exact = Dedup.ngramJaccard(spark, dir).cache()
    val capped = Dedup.ngramJaccardCapped(spark, dir, maxDf = 5).cache()
    val unbound = Dedup.ngramJaccardCapped(spark, dir, maxDf = 1000)

    // exact tier: all 45 boilerplate pairs + the near-dup pair
    assert(exact.where($"doc1" <= 10 && $"doc2" <= 10).count() === 45)
    assert(exact.where($"doc1" === 20 && $"doc2" === 21).count() === 1)
    // capped at maxDf=5: boilerplate pids (prefix-df 10) leave the
    // candidate index; ONLY the genuine near-dup pair remains, with a
    // jaccard identical to the exact tier's (verify is uncapped)
    assert(capped.count() === 1)
    assert(capped.join(exact, Seq("doc1", "doc2", "inter_cnt", "jaccard")).count() === 1)
    // soundness: capped ⊆ exact row-for-row (never adds, never rescores)
    assert(capped.join(exact, Seq("doc1", "doc2", "inter_cnt", "jaccard"), "left_anti").isEmpty)
    // a cap that never binds reproduces the exact tier bit-for-bit
    assert(unbound.except(exact).isEmpty && exact.except(unbound).isEmpty)
  }

  test("clusters_multi_capped: bucket cap breaks boilerplate near-cliques, keeps genuine dup clusters") {
    // Synthetic corpus where the BAND-BUCKET cap binds: 12 docs whose
    // text is one 60-word boilerplate run + 3 unique words — their
    // minhash signatures are boilerplate-dominated, so they pile into
    // the same (band, hash) buckets (the giant-near-clique shape the
    // sf1 skew rehearsal measured at 3.0×); one genuine near-dup pair
    // sharing a rare 40-word text; 5 unrelated docs.
    val boiler = (1 to 60).map(i => s"b$i").mkString(" ")
    val near = (1 to 40).map(i => s"n$i").mkString(" ")
    val docs =
      (1 to 12).map(i => (i.toLong,
        s"$boiler " + (1 to 20).map(j => s"u${i}w$j").mkString(" "))) ++
      Seq((20L, s"$near tail1"), (21L, s"$near tail2")) ++
      (30 to 34).map(i => (i.toLong, (1 to 20).map(j => s"f${i}w$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_ccap").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang", "'test' as source",
        "cast(length(text) as long) as n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val exactPairs = Dedup.minhashLsh(spark, dir).cache()
    val cappedPairs = Dedup.minhashLshCapped(spark, dir, maxDf = 3).cache()
    // the boilerplate clique exists in the exact tier and is gone in
    // the capped tier; the genuine pair survives with identical sim
    assert(exactPairs.where($"doc1" <= 12 && $"doc2" <= 12).count() >= 20)
    assert(cappedPairs.where($"doc1" <= 12 && $"doc2" <= 12).isEmpty)
    assert(cappedPairs.where($"doc1" === 20 && $"doc2" === 21).count() === 1)
    // soundness: capped ⊆ exact row-for-row (cap never adds or rescores)
    assert(cappedPairs.join(exactPairs, Seq("doc1", "doc2", "sim"), "left_anti").isEmpty)
    // a cap that never binds reproduces the exact tier bit-for-bit
    val unbound = Dedup.minhashLshCapped(spark, dir, maxDf = 1000)
    assert(unbound.except(exactPairs).isEmpty && exactPairs.except(unbound).isEmpty)

    // cluster level: uncapped inherits the near-clique as one giant
    // cluster; capped keeps the genuine pair clustered and the giant
    // cluster cannot survive on capped minhash evidence alone (simhash
    // may still pair SOME boilerplate docs — their fingerprints are
    // majority-weighted over the whole doc — but the 12-doc clique
    // must not reappear)
    val multi = Dedup.dedupClustersMulti(spark, dir).cache()
    val capped = Dedup.dedupClustersMultiCapped(spark, dir, maxDf = 3).cache()
    assert(multi.agg(max($"cluster_size")).head.getLong(0) >= 12L)
    assert(capped.where($"doc_id" === 20L || $"doc_id" === 21L)
      .select($"cluster_id").distinct().count() === 1)
    assert(capped.agg(max($"cluster_size")).head.getLong(0) < 12L)
    // schema + keeper discipline identical to the exact tier
    assert(capped.columns.toSeq === multi.columns.toSeq)
    assert(capped.where($"is_keeper" && $"doc_id" =!= $"cluster_id").isEmpty)
  }

  test("similarity_cell_stats: both variants account for every vector, occupancy bounds hold") {
    val rows = Similarity.similarityCellStats(spark, sf)
      .select($"index_variant", $"n_cells", $"cells_used", $"n_assigned",
        $"occ_min", $"occ_max", $"hot_cells")
      .as[(String, Int, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("ivf_seeded", "ivf_trained"))
    val nVecs = Tables.embeddings(spark, sf).count()
    for ((variant, nCells, used, assigned, occMin, occMax, hot) <- rows) {
      assert(assigned == nVecs, s"$variant lost vectors: $assigned != $nVecs")
      assert(used >= 1 && used <= nCells, s"$variant cells_used $used")
      assert(occMin >= 1 && occMin <= occMax, s"$variant occ bounds")
      assert(occMax * used >= assigned, s"$variant max*used < assigned")
      assert(hot >= 0 && hot <= used, s"$variant hot_cells $hot")
    }
  }

  test("trained IVF holds recall on clustered embeddings where structure-free can't (mixture law)") {
    // CI pin of the round-9 structured-embedding rehearsal (BASELINE.md):
    // same code, same geometry, two tiny corpora differing ONLY in
    // structure — a 16-component Gaussian mixture vs i.i.d. noise. The
    // trained IVF at nProbe=2 (of 16 cells = 12.5 % probed) must hold
    // high recall on the mixture and must NOT on the unstructured tier
    // (there, recall tracks the probed fraction — the documented law).
    // Fixed seed → deterministic data → a stable gate, not a flaky one.
    val rnd = new scala.util.Random(42)
    val d = 16; val nClusters = 16; val perCluster = 24
    val centers = Array.fill(nClusters, d)(rnd.nextGaussian())
    val clustered = (0 until nClusters * perCluster).map { i =>
      (i.toLong, (0 until d).map(j =>
        (centers(i % nClusters)(j) + 0.3 * rnd.nextGaussian()).toFloat).toArray)
    }
    val uniform = clustered.map { case (id, _) =>
      (id, Array.fill(d)(rnd.nextGaussian().toFloat)) }
    def writeTier(rows: Seq[(Long, Array[Float])]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_mix").toString
      rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    def recall(dir: String): Double =
      Similarity.similarityRecall(spark, dir, nProbe = 2, trained = true)
        .agg(avg($"recall")).head.getDouble(0)
    val rc = recall(writeTier(clustered))
    val ru = recall(writeTier(uniform))
    assert(rc >= 0.85, s"clustered-tier recall $rc below the mixture law's band")
    assert(rc - ru >= 0.2,
      s"no structure advantage measured: clustered $rc vs uniform $ru")
  }

  test("clusters_multi_capped ≡ clusters_multi when the cap never binds (sf tier)") {
    val exact = Dedup.dedupClustersMulti(spark, sf)
    val capped = Dedup.dedupClustersMultiCapped(spark, sf)
    assert(capped.except(exact).isEmpty && exact.except(capped).isEmpty)
  }

  test("similarity_topk: k per query, cosine in [-1, 1], non-increasing") {
    val df = Similarity.similarityTopK(spark, sf).cache()
    assert(df.where($"cosine" < -1.0000001 || $"cosine" > 1.0000001).isEmpty)
    val perQuery = df.groupBy($"query_id").count()
    assert(perQuery.where($"count" =!= 10).isEmpty)
    val bad = df.withColumn("prev", lag($"cosine", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id").orderBy($"rnk")))
      .where($"prev".isNotNull && $"cosine" > $"prev")
    assert(bad.isEmpty)
  }

  test("similarity_ivf: recall@5 vs brute force is sane (> 0.5)") {
    val exact = Similarity.similarityTopK(spark, sf).where($"rnk" <= 5)
      .select($"query_id", $"neighbor_id")
    val ivf = Similarity.similarityIvf(spark, sf)
      .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
    val hits = exact.join(ivf,
      $"query_id" === $"q2" && $"neighbor_id" === $"n2").count()
    val total = exact.count()
    assert(hits.toDouble / total > 0.5, s"recall ${hits.toDouble / total}")
  }

  test("multimodal_decode: checksum matches doc_fingerprint full hash") {
    // ASCII texts: byte-fold in mapPartitions == char-fold in SQL
    val dec = Multimodal.multimodalDecode(spark, sf)
      .select($"doc_id", $"checksum")
    val fp = TextStats.docFingerprint(spark, sf)
      .select($"doc_id".as("d2"), $"fp_full")
    assert(dec.join(fp, $"doc_id" === $"d2")
      .where($"checksum" =!= $"fp_full").isEmpty)
  }

  test("asof_attribution: custom AsOfJoinExec == declarative join+rank") {
    val ev = events
    val views = ev.where($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"ts".as("purchase_ts"))
    // declarative spec: all qualifying pairs, rank desc by purchase_ts, keep 1
    val pairs = views.join(purchases,
        $"user_id" === $"p_user" && $"purchase_ts" <= $"view_ts", "left_outer")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"view_id")
          .orderBy($"purchase_ts".desc_nulls_last, $"purchase_id".desc_nulls_last)))
      .where($"rn" === 1)
      .select($"view_id", $"user_id", coalesce($"purchase_id", lit(-1L)))
    val want = pairs.as[(Long, Long, Long)].collect().toSet
    val got = DetectionAnalytics.asofAttribution(spark, sf)
      .select($"view_id", $"user_id", coalesce($"purchase_id", lit(-1L)))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // every view appears exactly once
    assert(DetectionAnalytics.asofAttribution(spark, sf).count() ==
      ev.where($"event_type" === "view").count())
  }

  test("lang_id: predictions are valid labels") {
    val df = TextStats.langId(spark, sf)
    assert(df.where(!$"pred_lang".isin("en", "de", "fr", "es", "und")).isEmpty)
    assert(df.count() == Tables.documents(spark, sf).count())
  }

  test("lang_id_eval: confusion rows partition the corpus, shares sum to 1 per language") {
    val ev = TextStats.langIdEval(spark, sf).cache()
    assert(ev.agg(sum($"n")).head.getLong(0) ===
      Tables.documents(spark, sf).count())
    assert(ev.groupBy($"lang").agg(sum($"share").as("t"))
      .where(abs($"t" - 1.0) > 1e-9).isEmpty)
    // the matrix is consistent with the per-doc predictions it rolls up
    val diag = TextStats.langId(spark, sf)
      .where($"lang" === $"pred_lang").count()
    val diagEv = ev.where($"lang" === $"pred_lang")
      .agg(coalesce(sum($"n"), lit(0L))).head.getLong(0)
    assert(diag === diagEv)
  }

  test("bloom_join: bloom pre-filter + confirm equals the plain semi-join") {
    val got = RelationalAnalytics.bloomJoin(spark, sf)
      .as[(String, Long, Double, Double)].collect().toSet
    val hot = Tables.orders(spark, sf)
      .filter($"o_totalprice" > 490000.0).select($"o_orderkey")
    val want = Tables.lineitem(spark, sf)
      .join(hot, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("line_cnt"),
        sum($"l_quantity".cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(12,2)")).cast("double").as("sum_price"))
      .as[(String, Long, Double, Double)].collect().toSet
    assert(got == want)
  }

  test("item_rank: one node per part, ranks positive, edges raise rank") {
    val ranks = GraphAnalytics.itemRank(spark, sf).cache()
    assert(ranks.count() == Tables.part(spark, sf).count())
    assert(ranks.where($"rank_micro" < 150000L).isEmpty)
    // a part with in-edges must sit above the teleport-only floor
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey")
    val linked = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("b.l_partkey").as("part_id")).distinct()
    val floorOnly = ranks.join(linked, "part_id")
      .where($"rank_micro" === 150000L).count()
    assert(floorOnly == 0, s"$floorOnly linked parts stuck at teleport floor")
    ranks.unpersist()
  }

  test("value_anomaly: z matches stddev_pop recomputation, early days null") {
    val df = RelationalAnalytics.valueAnomaly(spark, sf).cache()
    // one row per (day, type); the first 2 days of each type have no z
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"day")
    val idx = df.withColumn("i", row_number().over(w))
    assert(idx.where($"i" <= 2 && $"z".isNotNull).isEmpty)
    // recompute z independently via stddev_pop over the same frame
    val frame = w.rowsBetween(-7, -1)
    val recompute = df
      .withColumn("m", avg($"total").over(frame))
      .withColumn("sd", stddev_pop($"total").over(frame))
      .where($"z".isNotNull && $"sd" > 0)
      .withColumn("z2", ($"total" - $"m") / $"sd")
    assert(recompute.where(abs($"z" - $"z2") > 1e-6).isEmpty)
    df.unpersist()
  }

  test("decontamination: bounds hold and exact cross-split dups score 1.0") {
    val df = TextStats.decontamination(spark, sf).cache()
    assert(df.where($"contamination" < 0.0 || $"contamination" > 1.0).isEmpty)
    assert(df.where($"n_hit" > $"n_shingles").isEmpty)
    // an eval doc whose exact text also appears in the train split must
    // be fully contaminated (its every shingle is in the index)
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "text",
        "poly_hash(cast(doc_id as string)) % 100 as bucket")
    val leaked = docs.where($"bucket" >= 95).as("e")
      .join(docs.where($"bucket" < 90).as("t"), col("e.text") === col("t.text"))
      .select(col("e.doc_id").as("doc_id")).distinct()
    val full = df.join(leaked, "doc_id")
    if (full.count() > 0)
      assert(full.where($"contamination" < 1.0).isEmpty)
    df.unpersist()
  }

  test("doc_repetition: ratio bounds and shingle accounting hold") {
    val df = TextStats.docRepetition(spark, sf).cache()
    assert(df.where($"rep_ratio" <= 0.0 || $"rep_ratio" > 1.0).isEmpty)
    assert(df.where($"top_cnt" > $"n_shingles" || $"n_distinct" > $"n_shingles").isEmpty)
    // n_shingles = tokens - 2 for every doc with >= 3 tokens
    val want = TextStats.textStats(spark, sf)
      .where($"n_tokens" >= 3)
      .select($"doc_id", ($"n_tokens" - 2).as("expect"))
    assert(df.join(want, "doc_id").where($"n_shingles" =!= $"expect").isEmpty)
    df.unpersist()
  }

  test("value_percentiles_sampled: sample is 5%-ish and percentiles ordered") {
    val n = events.count()
    val s = events.where(expr("poly_hash(cast(event_id as string)) % 20 = 0")).count()
    assert(s > n / 40 && s < n / 10, s"sample $s of $n outside (2.5%, 10%)")
    val df = RelationalAnalytics.valuePercentilesSampled(spark, sf)
    assert(df.where($"p50" > $"p90" || $"p90" > $"p99").isEmpty)
  }

  test("bm25_rank: dense ranks, non-increasing scores, matched terms bounded by query size") {
    val r = TextStats.bm25Rank(spark, sf).collect()
    assert(r.nonEmpty)
    assert(r.map(_.getInt(0)).toSeq == (1 to r.length))
    val scores = r.map(_.getDouble(3)).toSeq
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "scores not non-increasing down the ranking")
    assert(r.forall(_.getLong(2) <= 3), "more matched terms than query tokens")
  }

  test("supplier_blame: blame requires a uniquely-late supplier on a multi-supplier F order") {
    val r = RelationalAnalytics.supplierBlame(spark, sf)
    assert(r.count() > 0)
    assert(r.where($"numwait" < 1).isEmpty)
    // independent recomputation of one blamed order set: every blamed
    // (order, supplier) must have n_supp > 1, exactly one late supplier,
    // and that supplier must be the blamed one
    val li = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).where($"o_orderstatus" === "F"),
        $"l_orderkey" === $"o_orderkey")
      .withColumn("late", expr("l_shipdate > o_orderdate + interval 60 days"))
      .groupBy($"l_orderkey", $"l_suppkey").agg(max($"late").as("sl"))
      .groupBy($"l_orderkey")
      .agg(countDistinct($"l_suppkey").as("ns"),
        sum(when($"sl", 1L).otherwise(0L)).as("nl"),
        max(when($"sl", $"l_suppkey")).as("blame"))
      .where($"ns" > 1 && $"nl" === 1)
    val wantTotal = li.count()
    assert(r.agg(sum($"numwait")).head().getLong(0) == wantTotal,
      "numwait totals disagree with the independent count-distinct recomputation")
  }

  test("phrase_search: every reported hit is a real adjacency; extending the phrase refines") {
    val hits = TextStats.phraseSearch(spark, sf)
    assert(hits.count() > 0, "default phrase absent from the corpus — test has no bite")
    assert(hits.where($"n_hits" < 1 || $"first_pos" < 0).isEmpty)
    // first_pos must index an actual occurrence in the raw token stream
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", s"${TextHash.tokensSpark} as tokens")
    assert(hits.join(docs, "doc_id")
      .where(expr("tokens[first_pos] <> 'table' OR tokens[first_pos + 1] <> 'part'"))
      .isEmpty, "first_pos does not point at the phrase")
    // a 3-term extension is a refinement: its matches are a subset with
    // no more occurrences per doc
    val ext = TextStats.phraseSearch(spark, sf, Seq("table", "part", "value"))
      .select($"doc_id", $"n_hits".as("ext_hits"))
    assert(ext.join(hits, Seq("doc_id"), "left_anti").isEmpty,
      "extended phrase matched a doc the prefix did not")
    assert(ext.join(hits, "doc_id").where($"ext_hits" > $"n_hits").isEmpty,
      "extended phrase has more occurrences than its prefix")
  }

  test("corpus_drift: probabilities bounded micro-units, delta consistent, cut ordered") {
    val r = TextStats.corpusDrift(spark, sf)
    assert(r.where($"p_src_micro" < 0 || $"p_src_micro" > 1000000L ||
      $"p_corpus_micro" < 0 || $"p_corpus_micro" > 1000000L).isEmpty)
    assert(r.where($"delta_micro" =!= ($"p_src_micro" - $"p_corpus_micro")).isEmpty)
    // lattice semantics: a zero-count cell means the source lacks the
    // term entirely — its p_src must be 0 and its delta non-positive
    // (== 0 is legal when the corpus probability truncates to 0 micro-
    // units; strict negativity would make the test brittle on small
    // corpora, not the code wrong)
    assert(r.where($"tf" === 0L &&
      ($"p_src_micro" =!= 0L || $"delta_micro" > 0L)).isEmpty)
    assert(r.where($"tf" === 0L && $"p_corpus_micro" > 0L &&
      $"delta_micro" >= 0L).isEmpty,
      "vanished term with nonzero corpus probability must have strictly negative delta")
    val deltas = r.select(abs($"delta_micro")).collect().map(_.getLong(0)).toSeq
    assert(deltas.nonEmpty && deltas.zip(deltas.tail).forall { case (a, b) => a >= b },
      "report not ordered by |delta| — the top-k cut is not the top k")
  }

  test("oov_rate: bounded, and a vocabulary covering every token gives rate 0") {
    val r = TextStats.oovRate(spark, sf)
    assert(r.where($"oov_rate" < 0 || $"oov_rate" > 1 || $"n_oov" > $"n_tokens").isEmpty)
    assert(r.where($"n_oov" > 0).count() > 0, "top-20 vocab covers everything — rule has no bite")
    // the synthetic vocabulary is ~31 tokens: a top-100 cut covers all
    val full = TextStats.oovRate(spark, sf, v = 100)
    assert(full.where($"n_oov" =!= 0L).isEmpty, "full vocab still reports OOV")
  }

  test("quality_gopher: passes is exactly the rule conjunction; every rule splits") {
    val g = TextStats.qualityGopher(spark, sf)
    assert(g.where($"passes" =!= ($"r_len" && $"r_tok_len" && $"r_stop" && $"r_rep")).isEmpty)
    val n = g.count()
    val p = g.where($"passes").count()
    assert(p > 0 && p < n, s"gate passes $p of $n — thresholds don't split this corpus")
    // rep_ratio column agrees with the standalone repetition query
    val rep = TextStats.docRepetition(spark, sf).select($"doc_id", $"rep_ratio".as("want"))
    assert(g.join(rep, "doc_id").where($"rep_ratio" =!= $"want").isEmpty)
  }

  test("similarity_recall: bounded, and probing every cell gives recall 1.0") {
    val r = Similarity.similarityRecall(spark, sf)
    assert(r.where($"recall" < 0 || $"recall" > 1 || $"hits" > 5).isEmpty)
    // nProbe = nCentroids degenerates IVF to exact search over every
    // cell — recall must be exactly 1 for every sampled query
    val full = Similarity.similarityRecall(spark, sf, nProbe = 16)
    assert(full.where($"recall" =!= 1.0).isEmpty,
      "full-probe IVF missed an exact neighbor")
  }

  test("auto scale params resolve to the oracle constants at the correctness tier") {
    // n = 500 (sf0.001/sf0.01 embeddings AND documents): the adaptive
    // defaults MUST equal the constants hardwired in the DuckDB oracle
    // SQL, or the driver's hash gate would silently compare different
    // computations. Larger corpora get scaled geometry.
    assert(Similarity.autoCentroids(500) == 16)
    assert(Similarity.autoBits(500) == 8)
    assert(Similarity.autoSampleMod(500) == 10)
    assert(Similarity.autoNProbe(16) == 6)
    assert(Similarity.autoNProbe(Similarity.autoCentroids(2000)) == 6) // sf0.1 too
    assert(Dedup.autoMaxDf(500) == 10)
    assert(Dedup.autoMaxDf(5000) == 10) // sf0.1: bench tier unchanged too
    // and the scale-up shapes at the sf1 rehearsal tier
    assert(Similarity.autoCentroids(20000) == 100)
    assert(Similarity.autoBits(20000) == 13)
    assert(Similarity.autoSampleMod(20000) == 400)
    assert(Similarity.autoNProbe(100) == 20) // probed fraction held at scale
    assert(Dedup.autoMaxDf(50000) == 100)
    // round-11 SRP-LSH scale law: the multiprobe budget is the FULL
    // Hamming-1 ring (T = b — at the oracle tier b=8 that is exactly
    // the retired fixed T=8, so the n=500 contract never moved), and
    // the plane pool no longer caps bits at the former 16-bit cliff
    // (occupancy n/2^b went linear there; 24-bit pool holds ≈2 to 16M)
    assert(Similarity.multiprobeCount(8) == 8)
    assert(Similarity.multiprobeCount(Similarity.autoBits(20000)) == 13)
    assert(Similarity.autoBits(500000) == 18)  // was 16 under the old cap
    assert(Similarity.autoBits(5000000) == 21)
    assert(Similarity.autoBits(100000000L) == 24) // pool ceiling engages
  }

  test("similarity_lsh_stats: every vector lands in exactly one bucket per table") {
    val n = Tables.embeddings(spark, sf).count()
    val b = Similarity.autoBits(n)
    val stats = Similarity.similarityLshStats(spark, sf).collect()
    assert(stats.length == 4, "one telemetry row per table expected")
    stats.foreach { r =>
      assert(r.getAs[Long]("n_assigned") == n,
        "per-table assignment must cover the corpus exactly once")
      assert(r.getAs[Int]("bits") == b &&
        r.getAs[Int]("probes_per_query") == b + 1) // the T = b law, visible
      val used = r.getAs[Long]("buckets_used")
      assert(used >= 1 && used <= math.min(n, 1L << b))
      assert(r.getAs[Long]("occ_min") >= 1 &&
        r.getAs[Long]("occ_max") <= n &&
        r.getAs[Long]("occ_min") <= r.getAs[Long]("occ_max"))
      assert(math.abs(r.getAs[Double]("occ_avg") - n.toDouble / used) < 1e-9)
    }
  }

  test("similarity_recall_lsh: bounded, and an all-covering bucket gives recall 1.0") {
    val r = Similarity.similarityRecallLsh(spark, sf)
    assert(r.where($"recall" < 0 || $"recall" > 1 || $"hits" > 5).isEmpty)
    // bits = 0 puts every vector in one bucket — LSH degenerates to
    // exact search, so recall must be exactly 1 for every sampled query
    // (the LSH analog of the IVF full-probe pin above)
    val full = Similarity.similarityRecallLsh(spark, sf, tables = 1, bits = 0)
    assert(full.where($"recall" =!= 1.0).isEmpty,
      "zero-bit LSH (single all-covering bucket) missed an exact neighbor")
  }

  test("multi-probe LSH: candidate superset ⇒ per-query recall dominates exact-bucket") {
    // every exact-bucket collision is also a multiprobe collision (the
    // unflipped signature is in the probe set), so multiprobe recall
    // can never be below plain LSH recall for ANY query — a structural
    // invariant, not a tuning outcome
    val plain = Similarity.similarityRecallLsh(spark, sf)
      .select($"query_id", $"recall".as("r_plain"))
    val mp = Similarity.similarityRecallLsh(spark, sf, multiprobe = true)
      .select($"query_id", $"recall".as("r_mp"))
    assert(plain.join(mp, "query_id").where($"r_mp" < $"r_plain").isEmpty)
    // and on this corpus the probe fan-out must actually help in
    // aggregate (the whole point of the tier)
    val gain = plain.join(mp, "query_id")
      .agg(sum($"r_mp" - $"r_plain")).head.getDouble(0)
    assert(gain > 0, s"multiprobe gained nothing (sum delta $gain)")
  }

  test("embedding_centroids: micro-unit mean within quantization error of float avg") {
    val got = Similarity.embeddingCentroids(spark, sf)
    // naive float mean (order-dependent, test-only reference) should
    // agree to within the 1e-6 quantization + accumulation slack
    val want = Tables.embeddings(spark, sf)
      .select($"label", posexplode($"embedding"))
      .groupBy($"label", $"pos".cast("int").as("dim"))
      .agg(avg($"col".cast("double")).as("ref"), count(lit(1)).as("n_ref"))
    val joined = got.join(want, Seq("label", "dim"))
    assert(joined.count() == got.count())
    assert(joined.where(abs($"centroid" - $"ref") > 2e-6 || $"n" =!= $"n_ref").isEmpty,
      "centroid drifted beyond quantization error")
  }

  test("trained IVF: C centroids survive training; recall does not regress vs seeded") {
    val cent = Similarity.trainedCentroids(spark, sf, 16, 2)
      .selectExpr("cent_id", "size(centv) as d", "centn").collect()
    assert(cent.length == 16, "training lost or duplicated cells")
    assert(cent.forall(r => r.getInt(1) == 64 &&
      !r.getDouble(2).isNaN && r.getDouble(2) > 0), "degenerate trained centroid")
    // deterministic corpus + deterministic training ⇒ stable aggregate;
    // Lloyd rounds must not make the index WORSE than its seed here
    def avgRecall(trained: Boolean): Double =
      Similarity.similarityRecall(spark, sf, trained = trained)
        .agg(avg($"recall")).head.getDouble(0)
    val (seeded, trained) = (avgRecall(false), avgRecall(true))
    assert(trained >= seeded - 1e-9, s"training regressed recall: $seeded -> $trained")
  }

  test("dedup_incremental: verdicts replay the full-batch pair set, keep-first") {
    // ground truth: the FULL minhash pair set. A new doc must be
    // flagged dup iff it has a >=0.5 partner that was already in the
    // corpus (base doc, or new doc with smaller id) — i.e. incremental
    // day-by-day replay loses nothing vs the all-at-once batch run
    val gate = "poly_hash37(concat(cast(doc_id as string), '-incr')) % 10 = 0"
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", s"$gate as is_new")
    val p = Dedup.minhashLsh(spark, sf)
      .join(docs.toDF("doc1", "n1"), "doc1")
      .join(docs.toDF("doc2", "n2"), "doc2").cache()
    val expected = p.where($"n2").select($"doc2".as("doc_id"))
      .union(p.where($"n1" && !$"n2").select($"doc1".as("doc_id")))
      .distinct()
    val incr = Dedup.dedupIncremental(spark, sf).cache()
    val flagged = incr.where(!$"keep").select($"doc_id")
    assert(flagged.count() > 0, "vacuous: no incremental dup at test SF")
    assert(flagged.except(expected).isEmpty, "flagged a doc the batch run keeps")
    assert(expected.except(flagged).isEmpty, "missed a dup the batch run catches")
    // keep-first: a dup's keeper is never a LATER new arrival
    val bad = incr.where(!$"keep")
      .join(docs.toDF("dup_of", "keeper_new"), "dup_of")
      .where($"keeper_new" && $"dup_of" > $"doc_id")
    assert(bad.isEmpty, "a dup points at a keeper that arrived after it")
  }

  test("cluster_split: no near-dup cluster straddles a split; singletons keep the doc split") {
    val cs = Sampling.clusterSplit(spark, sf).cache()
    // the leak guard itself: every cluster maps to exactly one split
    val straddling = cs.groupBy($"cluster_id")
      .agg(countDistinct($"split").as("n_splits"))
      .where($"n_splits" > 1)
    assert(straddling.isEmpty, "a near-dup cluster spans two splits")
    // moved ⊆ non-trivial clusters, and the guard actually fires at test SF
    assert(cs.where($"moved" && $"cluster_size" === 1).isEmpty,
      "a singleton doc was moved — must agree with the doc-level split")
    assert(cs.where($"moved").count() > 0, "vacuous: no doc re-assigned at test SF")
    // outside real clusters the split IS corpus_sample's doc-level split
    val docSplit = graft.Tables.documents(spark, sf).selectExpr("doc_id",
      "case when poly_hash(cast(doc_id as string)) % 100 < 90 then 'train' " +
        "when poly_hash(cast(doc_id as string)) % 100 < 95 then 'val' else 'test' end as dsplit")
    val disagree = cs.where($"cluster_size" === 1)
      .join(docSplit, "doc_id").where($"split" =!= $"dsplit")
    assert(disagree.isEmpty, "singleton split diverged from the doc-level hash split")
  }

  test("similarity_pq: ADC score == dot with the PQ reconstruction; codes complete") {
    val out = Similarity.similarityPq(spark, sf).cache()
    assert(out.count() > 0, "vacuous: PQ returned no neighbors at test SF")
    val (_, cent, codes, _) = Similarity.pqIndex(spark, sf)
    // every encoded vector has exactly one code per subspace
    val badCard = codes.groupBy($"vec_id").count().where($"count" =!= 8)
    assert(badCard.isEmpty, "a vector is missing subspace codes")
    // ADC identity: the LUT-sum score must equal cosine(q, recon(v))
    // up to the 8-term floor quantization (each term floors at 1e-9)
    val recon = codes.join(cent.withColumnRenamed("cent_id", "code"), Seq("j", "code"))
      .groupBy($"vec_id")
      .agg(sort_array(collect_list(struct($"j", $"centv"))).as("sc"))
      .selectExpr("vec_id as neighbor_id", "flatten(transform(sc, s -> s.centv)) as vq")
    val vecs = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .selectExpr("vec_id", "v", "sqrt(vec_dot(v, v)) as nrm")
    val err = out.join(recon, "neighbor_id")
      .join(vecs.selectExpr("vec_id as query_id", "v as qv", "nrm as qn"), "query_id")
      .join(vecs.selectExpr("vec_id as neighbor_id", "nrm as nn"), "neighbor_id")
      .selectExpr("abs(approx_cosine - vec_dot(qv, vq) / (qn * nn)) as e")
      .agg(max($"e")).head.getDouble(0)
    assert(err < 1e-6, s"ADC diverged from reconstruction dot: max err $err")
  }

  test("similarity_recall_pq: PQ recall bounded by the IVF ceiling, non-vacuous") {
    // IVF ranks the SAME candidate set by exact cosine, so any ground-
    // truth neighbor that survives cell pruning is an IVF hit — IVF
    // recall is the per-query ceiling for any approximate scorer on
    // that candidate set, PQ included
    val pq = Similarity.similarityRecallPq(spark, sf)
      .select($"query_id", $"recall".as("pq_recall"))
    val ivf = Similarity.similarityRecall(spark, sf)
      .select($"query_id", $"recall".as("ivf_recall"))
    val both = pq.join(ivf, "query_id").cache()
    assert(both.count() > 0, "vacuous: no sampled queries")
    val viol = both.where($"pq_recall" > $"ivf_recall" + 1e-9)
    assert(viol.isEmpty, "PQ recall exceeded the exact-re-rank ceiling")
    val mean = both.agg(avg($"pq_recall")).head.getDouble(0)
    assert(mean > 0.0, "vacuous: PQ found no true neighbors at test SF")
  }

  test("bpe_train: hand-checked merges incl. overlapping-run greedy semantics") {
    // vocab chosen so round 1 merges a SELF-OVERLAPPING pair (a,a):
    // pair_count counts every adjacent occurrence (11) but greedy
    // left-to-right only applies non-overlapping ones ("aaaa" -> 2
    // merges, not 3), so n_symbols_after = 34 - 8 = 26, NOT 34 - 11 —
    // the distinction a naive "subtract pair_count" model misses.
    // Later rounds pin multi-char merges ((aa,aa) -> aaaa) and the
    // (count desc, left, right) tie order.
    val words = Seq(("aaaa", 3L), ("ab", 5L), ("ba", 4L), ("aa", 2L))
      .toDF("word", "freq")
    val got = Bpe.bpeTrainFrom(spark, words).collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4), r.getLong(5)))
    assert(got == Seq(
      (1, "a", "a", 11L, "aa", 26L),
      (2, "a", "b", 5L, "ab", 21L),
      (3, "b", "a", 4L, "ba", 17L),
      (4, "aa", "aa", 3L, "aaaa", 14L)))
  }

  test("bpe_encode: symbol conservation vs the trainer's compression curve") {
    val enc = Bpe.bpeEncode(spark, sf).cache()
    // every word encodes to >= 1 symbol and merges never grow a word
    assert(enc.where($"n_symbols" < $"n_tokens" ||
      $"n_symbols" > $"n_chars_tok").isEmpty,
      "per-doc symbol count outside [n_tokens, n_chars_tok]")
    assert(enc.where($"n_symbols" < $"n_chars_tok").count() > 0,
      "vacuous: no merge ever applied to the corpus")
    // Σ per-doc symbols == the trainer's final freq-weighted total —
    // the encode join and the training vocabulary must agree exactly
    val total = enc.agg(sum($"n_symbols")).head.getLong(0)
    val curve = Bpe.bpeTrain(spark, sf)
      .orderBy($"round".desc).select($"n_symbols_after").head.getLong(0)
    assert(total == curve,
      s"encoded corpus has $total symbols but the trainer reports $curve")
  }

  test("ngram_lm_score: OOD gibberish scores below in-distribution text; oov exact") {
    // a corpus of templated docs sharing bigrams + one doc of unique
    // never-repeated tokens: the gibberish doc's bigrams are all
    // unseen-by-the-model (beyond its own contribution), so its mean
    // bigram probability must land strictly below every templated doc
    val template = (0 until 40).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
    val gibberish = Seq((997L, "zqx wvu tsr qpo nml kji hgf edc"))
    val docs = spark.createDataFrame(template ++ gibberish)
      .toDF("doc_id", "text")
    val scored = TextStats.ngramLmScoreFrom(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val (nb, _, gScore) = scored(997L)
    assert(nb == 7, s"expected 7 bigrams in the 8-token doc, got $nb")
    val templatedScores = scored.collect { case (k, v) if k != 997L => v._3 }
    assert(templatedScores.forall(gScore < _),
      s"gibberish score $gScore not below templated ${templatedScores.min}")
    // every templated doc shares its bigrams with the train slice ⇒ no
    // oov there; the gibberish doc is oov except where IT trains the model
    assert(scored.collect { case (k, v) if k != 997L => v._2 }.forall(_ == 0L),
      "templated doc flagged oov despite identical train text")
  }

  test("pii_scrub: planted PII detected + redacted; chain order claims dotted phones") {
    // the synthetic corpus carries no PII, so the oracle hash only pins
    // engine parity — detection power needs planted spans
    val docs = Seq(
      (1L, "contact a.user@example.com or backup bob+x@mail.co today"),
      (2L, "call 415-555-1234 or 123.456.7890 now"),
      (3L, "server at 10.0.0.1 and 255.255.255.255 up"),
      (4L, "clean text with nothing to hide")
    ).toDF("doc_id", "text")
    val r = Scrub.piiScrubFrom(docs).orderBy($"doc_id")
      .select($"n_emails", $"n_phones", $"n_ips", $"scrubbed")
      .as[(Int, Int, Int, String)].collect()
    assert(r(0) == (2, 0, 0, "contact <EMAIL> or backup <EMAIL> today"))
    // a dotted phone is ALSO a syntactic IPv4 — the fixed
    // email->phone->IP chain must claim it as a phone exactly once
    assert(r(1) == (0, 2, 0, "call <PHONE> or <PHONE> now"))
    assert(r(2) == (0, 0, 2, "server at <IP> and <IP> up"))
    assert(r(3) == (0, 0, 0, "clean text with nothing to hide"))
  }

  test("text_normalize: idempotent fixed point, case/punct-invariant keeper") {
    val df = TextStats.textNormalize(spark, sf).cache()
    assert(df.count() == Tables.documents(spark, sf).count())
    // normalizing an already-normalized prefix is a fixed point (modulo
    // the trailing space an 80-char cut can leave, hence trim on both)
    val notFixed = df.where(
      expr("trim(norm_prefix) <> trim(regexp_replace(lower(norm_prefix), '[^a-z0-9]+', ' '))"))
    assert(notFixed.isEmpty, "normalization is not idempotent")
    // exactly one keeper per norm_hash group
    val badGroups = df.groupBy($"norm_hash")
      .agg(sum(when($"keeper", 1).otherwise(0)).as("k"))
      .where($"k" =!= 1)
    assert(badGroups.isEmpty, "a norm_hash group without exactly one keeper")
    df.unpersist()
    // case/punctuation variants of the same text collide; distinct text survives
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO WORLD."),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val r = docs
      .selectExpr("doc_id",
        "poly_hash(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))) as h")
      .withColumn("keeper", expr(
        "row_number() over (partition by h order by doc_id) = 1"))
      .orderBy($"doc_id").select($"keeper").as[Boolean].collect()
    assert(r.toSeq == Seq(true, false, false, true))
  }

  test("ngram_diversity: ratios in (0,1], distinct <= total, every source present") {
    val df = TextStats.ngramDiversity(spark, sf).cache()
    val nSources = Tables.documents(spark, sf).select($"source").distinct().count()
    assert(df.count() == nSources)
    val bad = df.where(
      $"vocab_size" > $"total_tokens" || $"distinct_trigrams" > $"total_trigrams" ||
      $"ttr" <= 0.0 || $"ttr" > 1.0 ||
      $"trigram_diversity" < 0.0 || $"trigram_diversity" > 1.0)
    assert(bad.isEmpty, "diversity invariants violated")
    // a template-duplicated corpus scores lower trigram diversity than
    // the corpus' own organic text
    df.unpersist()
  }

  test("mixture_plan: shares sum to 1, planned <= target with deficit only when capped") {
    val df = Sampling.mixturePlan(spark, sf).cache()
    val Array(shareSum, planned, target) = df
      .agg(sum($"w_share"), sum($"planned_tokens"), sum($"target_tokens"))
      .as[(Double, Double, Double)].collect().map(t => Array(t._1, t._2, t._3)).head
    assert(math.abs(shareSum - 1.0) < 1e-9, s"w_share sums to $shareSum")
    assert(planned <= target + 1e-6, "planned tokens exceed the target budget")
    // an uncapped source fills its target exactly; a capped one reports
    // the shortfall
    val wrong = df.where(
      (!$"capped" && abs($"planned_tokens" - $"target_tokens") > 1e-6) ||
      (!$"capped" && $"deficit_tokens" =!= 0.0) ||
      ($"capped" && $"deficit_tokens" <= 0.0))
    assert(wrong.isEmpty, "per-source epoch accounting inconsistent")
    // epochs bounded by the repetition ceiling
    assert(df.where($"epochs" > 4.0 || $"epochs" <= 0.0).isEmpty)
    df.unpersist()
  }

  test("funnel_rates: monotone steps, totals tie out to the CEP pattern matches") {
    val fr = DetectionAnalytics.funnelRates(spark, sf).cache()
    // conversion can only shrink down the funnel
    assert(fr.where($"n_full" > $"n_purchase" ||
      $"n_purchase" > $"n_signups").isEmpty, "funnel steps not monotone")
    val (s1, s3) = fr.agg(sum($"n_signups"), sum($"n_full"))
      .as[(Long, Long)].collect().head
    assert(s1 == events.where($"event_type" === "signup").count())
    // full-funnel conversions == distinct start events of the 3-step
    // relaxed CEP query
    val cepStarts = DetectionAnalytics.cepFunnelRelaxed(spark, sf)
      .select($"start_event").distinct().count()
    assert(s3 == cepStarts,
      s"full-funnel total $s3 != CEP relaxed start events $cepStarts")
    fr.unpersist()
  }

  test("value_quantiles_sketch: sample values from the group, estimates near exact") {
    val sketch = RelationalAnalytics.valueQuantilesSketch(spark, sf)
      .as[(String, Long, Double, Double)].collect()
    val exact = RelationalAnalytics.valuePercentiles(spark, sf)
      .select($"event_type", $"p50", $"p90")
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(sketch.nonEmpty)
    for ((t, n, p50, p90) <- sketch) {
      // bounded state: never more than K kept
      assert(n <= 256, s"$t sample exceeds K")
      // a 200-ish uniform sample puts the empirical median within a
      // loose band of the true one on value ~ U-ish data
      val (e50, e90) = exact(t)
      assert(math.abs(p50 - e50) <= math.max(10.0, 0.25 * math.abs(e50)),
        s"$t: sketch p50 $p50 far from exact $e50")
      assert(math.abs(p90 - e90) <= math.max(10.0, 0.25 * math.abs(e90)),
        s"$t: sketch p90 $p90 far from exact $e90")
    }
  }

  test("uv_cube: full lattice, exact cells == countDistinct, estimates sane") {
    val df = UserBehaviorAnalytics.uvCube(spark, sf).cache()
    val nTypes = events.select($"event_type").distinct().count()
    val nDays = events.select(to_date($"ts")).distinct().count()
    assert(df.count() == (nTypes + 1) * (nDays + 1), "lattice incomplete")
    // below the sketch threshold (K=256) every cell reports EXACT
    // distinct counts — compare the fully-grouped cells to countDistinct
    val want = events
      .groupBy($"event_type", to_date($"ts").cast("string").as("day"))
      .agg(countDistinct($"user_id").cast("double").as("uv"))
      .as[(String, String, Double)].collect()
      .map { case (t, d, v) => (t, d) -> v }.toMap
    val got = df.where($"event_type" =!= "(all)" && $"day" =!= "(all)")
      .as[(String, String, Double)].collect()
      .map { case (t, d, v) => (t, d) -> v }.toMap
    assert(got == want, "sub-K cube cells diverge from exact countDistinct")
    df.unpersist()
  }

  test("ts_similarity: top-k == brute-force nearest series; PAA tier sound") {
    // reconstruct every user's 30-day series from raw events
    val daily = events
      .selectExpr("user_id", "datediff(to_date(ts), date'2024-01-01') as d")
      .where($"d" >= 0 && $"d" < 30)
      .groupBy($"user_id", $"d").agg(count(lit(1)).as("c"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (u, rows) =>
        val arr = Array.fill(30)(0L)
        rows.foreach { case (_, d, c) => arr(d) = c }
        u -> arr
      }
    def dist2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val got = TimeSeriesAnalytics.tsSimilarity(spark, sf)
      .select($"query_id", $"neighbor_id", $"dist2", $"rnk")
      .as[(Long, Long, Long, Int)].collect()
    assert(got.nonEmpty)
    for ((q, n, d, r) <- got) {
      assert(d == dist2(daily(q), daily(n)), s"dist mismatch for ($q,$n)")
      // rank r ⇒ at most r-1 neighbors strictly better (ties by id)
      val better = daily.count { case (u, arr) =>
        val du = dist2(daily(q), arr)
        u != q && (du < d || (du == d && u < n)) }
      assert(better == r - 1, s"rank $r wrong for ($q,$n): $better better")
    }
    // PAA tier: every emitted pair is genuinely near (sound); exact
    // distances replayed from the raw series
    val paa = TimeSeriesAnalytics.tsSimilarityPaa(spark, sf)
      .as[(Long, Long, Long)].collect()
    for ((u1, u2, d) <- paa)
      assert(d == dist2(daily(u1), daily(u2)) && u1 < u2)
  }

  test("ts_paa_recall: degenerate step pins recall at 10000 bp; real step consistent with the PAA tier") {
    // a step above every segment sum collapses all signatures to
    // all-zeros: every panel near pair collides, recall exactly 10000
    val degen = TimeSeriesAnalytics
      .tsPaaRecall(spark, sf, stepOverride = 1000000L)
      .as[(Long, Long, Long)].head()
    assert(degen._1 > 0 && degen._1 == degen._2 && degen._3 == 10000L,
      s"degenerate quantization must find every near pair, got $degen")
    // real corpus-relative step: found ⊆ near, basis points exact
    val real = TimeSeriesAnalytics.tsPaaRecall(spark, sf)
      .as[(Long, Long, Long)].head()
    assert(real._1 >= real._2 && real._1 > 0)
    assert(real._3 == (real._2 * 10000) / real._1)
    // n_found must agree with the live PAA pair query restricted to
    // the panel: a directed panel hit is an undirected PAA pair with a
    // panel member on either side (both sides ⇒ counted twice)
    val nUsers = events
      .selectExpr("user_id", "datediff(to_date(ts), date'2024-01-01') as d")
      .where($"d" >= 0 && $"d" < 30).select($"user_id").distinct().count()
    val m = TimeSeriesAnalytics.autoMod(nUsers)
    val paa = TimeSeriesAnalytics.tsSimilarityPaa(spark, sf)
      .as[(Long, Long, Long)].collect()
    val expectFound = paa.count(_._1 % m == 0) + paa.count(_._2 % m == 0)
    assert(real._2 == expectFound,
      s"recall gate found ${real._2} panel hits, PAA tier implies $expectFound")
    // the curve's scale-1 row IS the gate's operating point: same
    // panel, same threshold, same grid — the two instruments must
    // report the identical (n_near, n_found, recall_bp)
    val curve1 = TimeSeriesAnalytics.tsPaaRecallCurve(spark, sf)
      .where($"quant_scale" === 1L)
      .select($"n_near", $"n_found", $"recall_bp")
      .as[(Long, Long, Long)].head()
    assert(curve1 == real,
      s"curve scale-1 row $curve1 diverges from the recall gate $real")
  }

  test("ts_similarity_paa_capped: bit-identical to the uncapped tier here; forced caps bind deterministically") {
    // auto cap (96) exceeds every bucket's occupancy at this tier —
    // the no-op contract the serving demotion stands on
    val uncapped = TimeSeriesAnalytics.tsSimilarityPaa(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val capped = TimeSeriesAnalytics.tsSimilarityPaaCapped(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(uncapped.nonEmpty && capped == uncapped,
      "auto-capped PAA tier must be bit-identical to uncapped at the correctness tier")
    // cap = 1: every signature bucket truncates to one member — no
    // pair can survive (the cap genuinely binds, not a dead parameter)
    assert(TimeSeriesAnalytics.tsSimilarityPaaCapped(spark, sf, cap = 1)
      .isEmpty, "cap=1 must empty the pair output")
    // cap = 2: EXACTLY the uncapped pairs whose both members rank ≤ 2
    // in their shared bucket (signatures are per-user unique, so both-
    // kept membership is the full pair condition) — the expected set is
    // computed from the independently oracle-gated uncapped output plus
    // the kept frame, not assumed non-empty from data (a regenerated
    // corpus could otherwise flake the old `cap2.nonEmpty`)
    val k2 = TimeSeriesAnalytics.paaCappedKeptFor(spark, sf, cap = 2)
      .select($"user_id").as[Long].collect().toSet
    val expected2 = uncapped.filter(p => k2(p._1) && k2(p._2)).toSet
    val cap2 = TimeSeriesAnalytics.tsSimilarityPaaCapped(spark, sf, cap = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(cap2 == expected2,
      "bound cap=2 must equal the rank-le-2 restriction of the uncapped pairs")
  }

  test("ts_paa_candidate_stats: survivors equal the live tiers' counts; capped columns bounded by full") {
    val st = TimeSeriesAnalytics.tsPaaCandidateStats(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val full = st("paa"); val capped = st("paa_capped")
    // same corpus geometry on both rows; capped occupancy/volume never
    // exceeds full; survivors never exceed candidates
    assert(full._2 == capped._2 && full._3 == capped._3)
    assert(capped._4 <= full._4 && capped._5 <= full._5 &&
      capped._6 <= full._6)
    assert(full._6 <= full._5 && capped._6 <= capped._5)
    // the survivor columns ARE the live tiers' outputs
    assert(full._6 == TimeSeriesAnalytics.tsSimilarityPaa(spark, sf).count())
    assert(capped._6 ==
      TimeSeriesAnalytics.tsSimilarityPaaCapped(spark, sf).count())
    // with a binding cap the telemetry tracks the bound tier exactly
    val st2 = TimeSeriesAnalytics.tsPaaCandidateStats(spark, sf, cap = 2)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(st2("paa_capped")._4 <= 2L)
    assert(st2("paa_capped")._6 ==
      TimeSeriesAnalytics.tsSimilarityPaaCapped(spark, sf, cap = 2).count())
    // the star row sits between the capped and full funnels: one-sided
    // cap admits every both-kept pair plus the member→core residue
    for (stx <- Seq(st, st2)) {
      val (f, c2, s2) = (stx("paa"), stx("paa_capped"), stx("paa_star"))
      assert(s2._4 == f._4, "star occ_max is the FULL bucket occupancy")
      assert(c2._5 <= s2._5 && s2._5 <= f._5,
        "star candidates between capped and full")
      assert(c2._6 <= s2._6 && s2._6 <= f._6,
        "star survivors between capped and full")
    }
    // with a non-binding cap the star row degenerates to the full row
    assert(st("paa_star")._5 == st("paa")._5 &&
      st("paa_star")._6 == st("paa")._6,
      "non-binding cap: every pair has a kept side")
  }

  test("ts_paa_members: keeper output equals a reconstruction from the uncapped pairs at any cap") {
    // ground truth: the (independently oracle-gated) uncapped pair
    // list IS the set of verified same-sig pairs; a member's expected
    // keeper under cap c is its nearest partner whose bucket rank ≤ c
    // (ties by partner id) — reconstructed here without re-running any
    // of the production star code
    val pairs = TimeSeriesAnalytics.tsSimilarityPaa(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val rank = TimeSeriesAnalytics.paaRankedFor(spark, sf)
      .select($"user_id", $"srk").as[(Long, Int)].collect().toMap
    def expected(cap: Int): Set[(Long, Long, Long)] =
      pairs.flatMap { case (u1, u2, d) =>
        Seq((u1, u2, d), (u2, u1, d)) } // both directions
        .filter { case (_, rep, _) => rank(rep) <= cap }
        .groupBy(_._1)
        .map { case (_, cands) => cands.minBy(r => (r._3, r._2)) }
        .toSet
    for (cap <- Seq(1, 2, Int.MaxValue)) {
      val got = TimeSeriesAnalytics.tsPaaMembers(spark, sf, cap = cap)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected(cap),
        s"members(cap=$cap) must equal the uncapped-pair reconstruction")
    }
  }

  test("ts_paa_members: 100% bucket-member coverage on a flood corpus with a binding cap") {
    // constructed boilerplate flood: 40 users with IDENTICAL flat
    // series (one event per day) share one signature bucket; two
    // distant singletons hold their own buckets. With cap = 4 the PAIR
    // tier keeps only the 4-member core's C(4,2) pairs — the star form
    // must still cover all 40 members (the round-16 recall-loss class
    // this query exists to close).
    val dir = java.nio.file.Files.createTempDirectory("graftpaastar").toString
    val flood = spark.range(40).selectExpr("id + 1 as user_id")
      .crossJoin(spark.range(30).selectExpr("id as d"))
    val singles = Seq((100L, 0L), (101L, 29L)).toDF("user_id", "d")
      .crossJoin(spark.range(200).select($"id".as("rep")))
    flood.select($"user_id", $"d").unionAll(singles.select($"user_id", $"d"))
      .selectExpr(
        "monotonically_increasing_id() as event_id",
        "cast(timestampadd(DAY, cast(d as int), " +
          "timestamp'2024-01-01 06:00:00') as timestamp_ntz) as ts",
        "user_id", "'view' as event_type", "1.0 as value",
        "'{}' as props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val members = TimeSeriesAnalytics.tsPaaMembers(spark, dir, cap = 4)
      .as[(Long, Long, Long)].collect()
    val floodRows = members.filter(_._1 <= 40)
    assert(floodRows.map(_._1).toSet == (1L to 40L).toSet,
      "every flood-bucket member must carry keeper evidence")
    assert(floodRows.forall { case (u, rep, d) =>
      d == 0L && rep <= 4 && rep != u },
      "keepers are the 4-member kept core, verified at distance 0")
    assert(!members.exists(r => r._1 >= 100L),
      "singleton buckets yield no keeper rows")
    // the pair tier under the same binding cap keeps only the core
    assert(TimeSeriesAnalytics.tsSimilarityPaaCapped(spark, dir, cap = 4)
      .count() == 6L, "pair tier at cap=4 keeps C(4,2) core pairs")
  }

  test("ts_paa_autoscale: structure-free corpus stays at grid 1; planted twin noise selects grid 2") {
    // uniform tier: every pair is threshold-near (the r15 degeneracy) —
    // the separation gate must refuse to coarsen, keeping the bounded-
    // work default without a human reading the recall curve
    val uni = TimeSeriesAnalytics.tsPaaAutoScale(spark, sf)
      .select($"sep_ok", $"chosen_scale").as[(Long, Long)].head()
    assert(uni._2 == 1L, s"uniform corpus must stay at grid 1, got $uni")
    assert(TimeSeriesAnalytics.autoQuantScale(spark, sf) == 1)
    // planted corpus (the tsnear shape in miniature): 100 users with 2
    // template-drawn active days (~30±10 events each); twin pairs
    // (u, u+1 at u ≡ 1 mod 10) share a template and differ only by
    // jitter — within-pair per-segment noise sits in the band where
    // 1·step straddles and 2·step clears (dist² ≈ 4a(a+1)/3 at jitter
    // amplitude a=10 → ~150, vs between ≈ 4·30² ≈ 3600: separated)
    val dir = java.nio.file.Files.createTempDirectory("graftautosc").toString
    spark.range(100).selectExpr("id + 1 as user_id")
      .withColumn("tmpl", expr(
        "case when user_id % 10 = 2 then user_id - 1 else user_id end"))
      .withColumn("day", explode(array(
        expr("pmod(hash(tmpl, 'a'), 30)"), expr("pmod(hash(tmpl, 'b'), 30)"))))
      .withColumn("cnt", expr("30 + pmod(hash(user_id, day, 'j'), 21) - 10"))
      .withColumn("i", explode(expr("sequence(1, cnt)")))
      .selectExpr(
        "monotonically_increasing_id() as event_id",
        "cast(timestampadd(DAY, cast(day as int), " +
          "timestamp'2024-01-01 06:00:00') as timestamp_ntz) as ts",
        "user_id", "'view' as event_type", "1.0 as value", "'{}' as props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val planted = TimeSeriesAnalytics.tsPaaAutoScale(spark, dir)
      .select($"n_tight", $"sep_ok", $"chosen_scale")
      .as[(Long, Long, Long)].head()
    assert(planted._1 > 0L, "planted corpus must yield tight evidence")
    assert(planted._2 == 1L, "planted corpus must pass the separation gate")
    assert(planted._3 == 2L,
      s"planted twin noise must select the 2-step grid, got $planted")
    // the auto grid feeds the snapshot default: the frozen qstep is
    // chosen·step on the planted corpus, step·1 on the uniform one
    val idx = java.nio.file.Files.createTempDirectory("graftautoidx").toString
    TimeSeriesAnalytics.materializePaa(spark, dir, idx)
    val frozen = spark.read.parquet(s"$idx/ts_paa_step")
      .selectExpr("qstep div step").as[Long].head()
    assert(frozen == 2L, "materializePaa default must freeze the auto grid")
  }

  test("tsMatchPaaFrom fails fast (naming the rebuild) on a pre-cap index") {
    val dir = java.nio.file.Files.createTempDirectory("graftpaaidx").toString
    TimeSeriesAnalytics.materializePaa(spark, sf, dir)
    // simulate the pre-cap snapshot: same data, srk/sigcap stripped
    val old = java.nio.file.Files.createTempDirectory("graftpaaold").toString
    spark.read.parquet(s"$dir/ts_paa_sig").drop("srk")
      .write.parquet(s"$old/ts_paa_sig")
    spark.read.parquet(s"$dir/ts_paa_step").drop("sigcap")
      .write.parquet(s"$old/ts_paa_step")
    val q = spark.read.parquet(s"$dir/ts_paa_sig")
      .selectExpr("user_id as query_id", "arr")
    val ex = intercept[IllegalArgumentException] {
      TimeSeriesAnalytics.tsMatchPaaFrom(spark, old, q)
    }
    assert(ex.getMessage.contains("materializePaa"),
      s"guard must name the rebuild path, got: ${ex.getMessage}")
  }

  test("dedupEmbeddingCappedCurve rejects explicit caps that collapse the level ladder") {
    intercept[IllegalArgumentException] {
      Similarity.dedupEmbeddingCappedCurve(spark, sf, capAssign = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.dedupEmbeddingCappedCurve(spark, sf, capProbe = 3)
    }
  }

  test("graph_triangles: degree-oriented counts == brute-force enumeration") {
    val got = GraphAnalytics.graphTriangles(spark, sf)
      .as[(Long, Long)].collect().toMap
    // brute force over the collected canonical edge set
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val byOrder = li.groupBy(_._1).values
    val edges = (for {
      grp <- byOrder; Array(x, y) <- grp.map(_._2).distinct.sorted
        .combinations(2).map(_.toArray)
    } yield (x, y)).toSet
    val adj = edges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val want = scala.collection.mutable.Map.empty[Long, Long]
    for {
      (u, vs) <- adj; Array(b, c) <- vs.toArray.sorted.combinations(2)
        .map(_.toArray)
      if edges((b, c))
      n <- Seq(u, b, c)
    } want(n) = want.getOrElse(n, 0L) + 1L
    assert(want.nonEmpty && got == want.toMap,
      s"triangle counts diverged (got ${got.size} parts, want ${want.size})")
  }

  test("range_join: bucketized pairs == brute-force nested-loop pairs") {
    val got = DetectionAnalytics.rangeJoin(spark, sf)
      .select($"err_id", $"event_id").as[(Long, Long)].collect().toSet
    // brute force on the collected rows — the semantics oracle the
    // bucketization must reproduce exactly (incl. window-edge events)
    val evs = Tables.events(spark, sf)
      .selectExpr("event_id", "event_type", "unix_micros(ts) as us")
      .as[(Long, String, Long)].collect()
    val want = (for {
      (eid, et, us) <- evs if et == "error"
      (pid, _, pus) <- evs
      if pid != eid && math.abs(pus - us) <= 60000000L
    } yield (eid, pid)).toSet
    assert(want.nonEmpty && got == want, "bucketized range join diverged")
  }

  test("embedding_decontamination: every train row reported, best match is the true max") {
    val df = Similarity.embeddingDecontamination(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    // one row per TRAIN vector (eval panel = vec_id % mod == 0 excluded)
    val mod = math.max(10, (n / 50L).toInt)
    val nTrain = Tables.embeddings(spark, sf)
      .where(expr(s"vec_id % $mod <> 0")).count()
    assert(df.count() == nTrain)
    // the reported cosine really is the max over the eval panel: no
    // (train, eval) pair may beat its train row's reported best
    val e = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .selectExpr("vec_id", "v", "sqrt(vec_dot(v, v)) as nrm")
    val eval = e.where(expr(s"vec_id % $mod = 0"))
      .select($"vec_id".as("eid"), $"v".as("evv"), $"nrm".as("en"))
    val beat = e.where(expr(s"vec_id % $mod <> 0"))
      .select($"vec_id".as("train_id"), $"v".as("tv"), $"nrm".as("tn2"))
      .crossJoin(broadcast(eval))
      .withColumn("c", expr("vec_dot(tv, evv) / (tn2 * en)"))
      .join(df.select($"train_id", $"cosine"), "train_id")
      .where($"c" > $"cosine")
    assert(beat.isEmpty, "a pair beats the reported best match")
    // contaminated == (cosine >= 0.4), and the flag is not vacuous at
    // either polarity on this corpus
    assert(df.where($"contaminated" =!= ($"cosine" >= 0.4)).isEmpty)
    assert(df.where(!$"contaminated").count() > 0)
    df.unpersist()
  }
}
