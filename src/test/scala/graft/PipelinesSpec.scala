package graft

import graft.streaming.BlockHygiene
import graft.textops.{Dedup, Pipelines, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** Materialized-pipeline mode: the snapshot written once by
  * [[Pipelines.materialize]] must serve byte-identical results to the
  * per-query recomputation it replaces.
  */
class PipelinesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._
  private val sf = SparkTestBase.sf

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** One micro-batch body run as its stream runs it: inside
    * [[BlockHygiene.eachBatch]]'s bracket. */
  private def microBatch(body: => Unit): Unit =
    BlockHygiene.releasingNewPersists(spark)(body)

  test("materialized snapshot == recomputed (pairs, clusters, corpus_prep)") {
    val dir = java.nio.file.Files.createTempDirectory("graftmat").toString
    Pipelines.materialize(spark, sf, dir)

    // evidence tiers round-trip exactly
    assert(
      Pipelines.pairs(spark, dir, Seq("minhash"))
        .as[(Long, Long)].collect().toSet ==
      Dedup.minhashLsh(spark, sf)
        .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet)
    assert(
      Pipelines.pairs(spark, dir, Seq("simhash"))
        .as[(Long, Long)].collect().toSet ==
      Dedup.simhashDedup(spark, sf)
        .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet)
    assert(
      Pipelines.pairs(spark, dir, Seq("containment"))
        .as[(Long, Long)].collect().toSet ==
      Dedup.dedupContainment(spark, sf)
        .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet)

    // served clusters == the live queries, row-for-row (both ordered)
    assert(rows(Pipelines.clusters(spark, dir)) ==
      rows(Dedup.dedupClusters(spark, sf)))
    assert(rows(Pipelines.clustersMulti(spark, dir)) ==
      rows(Dedup.dedupClustersMulti(spark, sf)))
    assert(rows(Pipelines.clustersMultiCapped(spark, dir)) ==
      rows(Dedup.dedupClustersMultiCapped(spark, sf)))

    // downstream composite served from the snapshot == live pipeline
    assert(rows(Pipelines.corpusPrepFrom(spark, sf, dir)) ==
      rows(Sampling.corpusPrep(spark, sf)))

    // tier filter is a partition filter (directory pruning, no data
    // scan of the other tier)
    val plan = Pipelines.pairs(spark, dir, Seq("minhash"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tier"),
      s"tier filter must prune partitions, plan:\n$plan")

    // served incremental dedup: probing the stored base buckets must
    // replay the live query row-for-row (same verdicts, same keepers)
    assert(rows(Pipelines.dedupIncrementalFrom(spark, sf, dir)) ==
      rows(Dedup.dedupIncremental(spark, sf)))

    // span-dedup loop: stored span index probe == live incremental query
    assert(rows(Pipelines.spanDedupIncrementalFrom(spark, sf, dir)) ==
      rows(Dedup.spanDedupIncremental(spark, sf)))
  }

  test("crawl-loop replay: re-running an uncommitted micro-batch rewrites identical output") {
    // the crash-replay path, driven directly: a batch whose index
    // append landed but whose offset never committed gets re-run with
    // the same id. The batch_id < id probe guard must make the rerun
    // judge against the exact pre-crash view — without it the replayed
    // span batch finds its own spans in the index and empties every
    // document, and a minhash batch can flip keep-first verdicts.
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    def df(rs: Seq[(Long, String)]) = rs.toDF("doc_id", "text")

    val sdir = java.nio.file.Files.createTempDirectory("graftspanrep").toString
    val (b0, b1) = docs.splitAt(docs.size / 2)
    microBatch(Pipelines.spanDedupBatch(df(b0), 0, sdir, s"$sdir/clean"))
    microBatch(Pipelines.spanDedupBatch(df(b0), 0, sdir, s"$sdir/clean")) // replay
    microBatch(Pipelines.spanDedupBatch(df(b1), 1, sdir, s"$sdir/clean"))
    val gotSpan = spark.read.parquet(s"$sdir/clean")
      .select($"doc_id", $"clean_text", $"n_spans", $"n_dropped")
      .as[(Long, String, Long, Long)].collect().toSet
    val wantSpan = Dedup.spanDedup(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(wantSpan.nonEmpty && gotSpan == wantSpan,
      "span replay diverged from the one-shot output")

    val mdir = java.nio.file.Files.createTempDirectory("graftmhrep").toString
    Pipelines.materialize(spark, sf, mdir)
    val newDocs = Tables.documents(spark, sf).where(expr(
        "poly_hash37(concat(cast(doc_id as string), '-incr')) % 10 = 0"))
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .sortBy(_._1).toSeq
    val (n0, n1) = newDocs.splitAt(newDocs.size / 2)
    microBatch(Pipelines.dedupIncrementalBatch(df(n0), 0, mdir, s"$mdir/verdicts"))
    microBatch(Pipelines.dedupIncrementalBatch(df(n0), 0, mdir, s"$mdir/verdicts")) // replay
    microBatch(Pipelines.dedupIncrementalBatch(df(n1), 1, mdir, s"$mdir/verdicts"))
    val cols = Seq("doc_id", "keep", "n_dups", "dup_of", "best_sim")
    val gotV = spark.read.parquet(s"$mdir/verdicts").selectExpr(cols: _*)
      .as[(Long, Boolean, Long, Option[Long], Option[Double])].collect().toSet
    val wantV = Dedup.dedupIncremental(spark, sf).selectExpr(cols: _*)
      .as[(Long, Boolean, Long, Option[Long], Option[Double])].collect().toSet
    assert(wantV.nonEmpty && gotV == wantV,
      "minhash replay diverged from the one-shot verdicts")
  }

  test("materialized postings index: served phrase search == live; scan prunes partitions") {
    import graft.textops.TextStats
    val dir = java.nio.file.Files.createTempDirectory("graftpost").toString
    Pipelines.materializePostings(spark, sf, dir)
    val phrase = Seq("table", "part")
    val served = Pipelines.phraseSearchFrom(spark, dir, phrase)
    assert(rows(served) == rows(TextStats.phraseSearch(spark, sf, phrase)),
      "stored-index phrase search diverged from the live query")
    // the narrow (streaming-safe) per-row form is a third independent
    // formulation — all three must agree
    assert(rows(TextStats.phraseHitsFrom(Tables.documents(spark, sf), phrase)
        .orderBy($"doc_id")) ==
      rows(TextStats.phraseSearch(spark, sf, phrase)),
      "narrow adjacency scan diverged from the posting join")
    // the phrase's term partitions must reach the scan as
    // PartitionFilters — reading all 64 directories would make serving
    // cost corpus-sized
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pt"),
      s"postings scan does not prune term partitions, plan:\n$plan")
  }

  test("postings prune is COUNTED: a 2-term phrase reads <= 2 of 64 directories (sf1 when present)") {
    // VERDICT r9 #8: the PartitionFilters string pin proves the filter
    // REACHED the scan; this pins the pruned-directory COUNT via the
    // scan's own execution metrics, against the largest materialization
    // available (target/sf1 = 10x docs when this round's rehearsal tier
    // is on disk; the prune property itself is tier-independent).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val sf1Docs = java.nio.file.Paths.get("target/sf1/documents.parquet")
    val tier = if (java.nio.file.Files.exists(sf1Docs)) "target/sf1" else sf
    val dir = java.nio.file.Files.createTempDirectory("graftpostc").toString
    Pipelines.materializePostings(spark, tier, dir)
    val phrase = Seq("table", "part")
    val served = Pipelines.phraseSearchFrom(spark, dir, phrase)
    // collect() (not count()) so the metrics land on THIS plan's
    // query execution — count() builds a separate aggregate QE
    assert(served.collect().nonEmpty, s"phrase not present in $tier")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      // AQE wraps materialized stages in QueryStageExec (children =
      // Nil) and reuses exchanges via leaf ReusedExchangeExec — both
      // must be descended through explicitly
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val postingScans = scans(served.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("postings")))
    assert(postingScans.nonEmpty, "no postings file scan found in the plan")
    postingScans.foreach { s =>
      s.metrics.get("numPartitions").foreach { m =>
        assert(m.value <= phrase.distinct.size,
          s"scan read ${m.value} partition dirs for a ${phrase.size}-term phrase")
        assert(m.value >= 1, "metric not populated")
      }
      // file-count backstop: the scanned files must be exactly the
      // files under the phrase terms' pt directories, not the corpus
      val pts = phrase.map(w =>
        graft.textops.TextHash.phScala(w) % 64).distinct
      val expected = pts.map { pt =>
        val d = java.nio.file.Paths.get(s"$dir/postings/pt=$pt")
        if (java.nio.file.Files.exists(d)) {
          val s = java.nio.file.Files.list(d) // must close: holds a dir handle
          try s.filter(_.toString.endsWith(".parquet")).count()
          finally s.close()
        } else 0L
      }.sum
      val numFiles = s.metrics.get("numFiles").map(_.value)
      assert(numFiles.forall(_ <= expected),
        s"scan read ${numFiles} files; the phrase's directories hold $expected")
    }
  }

  test("materialized term counts: self-drift is exactly zero; a narrowed batch reports negative deltas") {
    val dir = java.nio.file.Files.createTempDirectory("graftterms").toString
    Pipelines.materializeTermCounts(spark, sf, dir)
    val docs = Tables.documents(spark, sf)
    // replaying the reference corpus as the batch: every monitored term
    // has identical micro-probabilities — the report must be all-zero
    val self = Pipelines.corpusDriftAgainst(docs, dir)
    assert(self.count() > 0)
    assert(self.where($"delta_micro" =!= 0L).isEmpty,
      "reference-vs-itself drift is not identically zero")
    // a single-source batch: any reference term it lacks must surface
    // as tf = 0 with a non-positive delta, never drop out
    val one = Pipelines.corpusDriftAgainst(
      docs.where($"source" === "src0"), dir)
    assert(one.where($"tf" === 0L &&
      ($"p_batch_micro" =!= 0L || $"delta_micro" > 0L)).isEmpty)
    assert(one.where($"delta_micro" =!= ($"p_batch_micro" - $"p_ref_micro")).isEmpty)
  }

  test("materialized ANN index: stored probe == live similarity_ivf; external queries work") {
    import graft.textops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graftann").toString
    Pipelines.materializeAnn(spark, sf, dir)
    // replaying the corpus as the query set against storage must equal
    // the live self-search query exactly
    val corpus = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    assert(rows(Pipelines.annSearchFrom(spark, dir, corpus,
        excludeSelfId = true)) ==
      rows(Similarity.similarityIvf(spark, sf)))
    // an EXTERNAL query (id outside the corpus space, perturbed
    // vector) gets k neighbors without touching the index build
    val external = corpus.limit(1)
      .selectExpr("cast(1000000 as bigint) as vec_id",
        "transform(v, x -> x + 0.001d) as v")
    val hits = Pipelines.annSearchFrom(spark, dir, external)
    assert(hits.count() == 5, "external query did not return k neighbors")
  }

  test("materialized PQ index: stored ADC probe == live similarity_pq; external queries work") {
    import graft.textops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graftpq").toString
    Pipelines.materializePq(spark, sf, dir)
    // replaying the corpus as the query set against stored CODES must
    // reproduce the live in-memory PQ query's ADC ranking exactly
    // (live also carries the exact-cosine re-rank column — the stored
    // serve's contract is the ADC rank, so compare through it)
    val corpus = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    assert(rows(Pipelines.annSearchPqFrom(spark, dir, corpus,
        excludeSelfId = true)) ==
      rows(Similarity.similarityPq(spark, sf)
        .select($"query_id", $"neighbor_id", $"approx_cosine", $"rnk")
        .orderBy($"query_id", $"rnk")))
    // an EXTERNAL query gets k ADC neighbors from codes alone
    val external = corpus.limit(1)
      .selectExpr("cast(1000000 as bigint) as vec_id",
        "transform(v, x -> x + 0.001d) as v")
    assert(Pipelines.annSearchPqFrom(spark, dir, external).count() == 5,
      "external query did not return k ADC neighbors")
  }

  test("trained PQ codebook: Lloyd non-regression vs seeded; deterministic; serve path codebook-agnostic") {
    import graft.textops.Similarity
    // Lloyd rounds must not increase total quantization error — the
    // encoder-score proxy is monotone in negative error (tiny slack
    // for the floor(1e6) micro-unit re-centering)
    val seededScore = Similarity.pqQuantScore(spark, sf,
      Similarity.pqIndex(spark, sf)._2)
    val trained = Similarity.pqTrainedCodebook(spark, sf, rounds = 2)
    assert(Similarity.pqQuantScore(spark, sf, trained) >= seededScore - 1e-3,
      "training increased the total quantization error")
    // engine-exact: a re-train reproduces the codebook bit-for-bit
    val again = Similarity.pqTrainedCodebook(spark, sf, rounds = 2)
    assert(rows(trained.orderBy($"j", $"cent_id")) ==
      rows(again.orderBy($"j", $"cent_id")), "training is not deterministic")
    // the serve path works unchanged on a trained snapshot
    val dir = java.nio.file.Files.createTempDirectory("graftpqt").toString
    Pipelines.materializePq(spark, sf, dir, trainRounds = 2)
    val corpus = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val served = Pipelines.annSearchPqFrom(spark, dir, corpus,
      excludeSelfId = true)
    assert(served.groupBy($"query_id").count().where($"count" =!= 5).isEmpty,
      "trained snapshot did not serve k ADC neighbors per query")
    // capacity override: the serve derives the ADC stride from the
    // stored codebook itself, so a 64-entry snapshot works unchanged
    val kdir = java.nio.file.Files.createTempDirectory("graftpqk").toString
    Pipelines.materializePq(spark, sf, kdir, codebookK = 64)
    assert(Pipelines.annSearchPqFrom(spark, kdir, corpus,
        excludeSelfId = true)
      .groupBy($"query_id").count().where($"count" =!= 5).isEmpty,
      "64-entry snapshot did not serve k ADC neighbors per query")
  }

  test("residual PQ snapshot (IVFADC): ADC == dot(q, centroid + recon(residual)); serves k per query") {
    import org.apache.spark.sql.functions.{collect_list, max, sort_array, struct}
    val dir = java.nio.file.Files.createTempDirectory("graftpqr").toString
    Pipelines.materializePq(spark, sf, dir, trainRounds = 2, residual = true)
    val corpus = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val served = Pipelines.annSearchPqFrom(spark, dir, corpus,
      excludeSelfId = true)
    assert(served.groupBy($"query_id").count().where($"count" =!= 5).isEmpty,
      "residual snapshot did not serve k ADC neighbors per query")
    // score identity: the served approx must equal the cosine of the
    // query against (cell centroid + codebook reconstruction of the
    // residual), up to the 8-term 1e-9 LUT floor
    val cb = spark.read.parquet(s"$dir/pq_codebook")
    val recon = spark.read.parquet(s"$dir/pq_codes")
      .selectExpr("vec_id as neighbor_id", "cell",
        "posexplode(codes) as (j, code)")
      .join(cb.withColumnRenamed("cent_id", "code"), Seq("j", "code"))
      .groupBy($"neighbor_id", $"cell")
      .agg(sort_array(collect_list(struct($"j", $"centv"))).as("sc"))
      .selectExpr("neighbor_id", "cell",
        "flatten(transform(sc, s -> s.centv)) as rv")
    val cent = spark.read.parquet(s"$dir/ann_centroids")
      .selectExpr("cent_id as cell", "centv")
    val vecs = corpus.selectExpr("vec_id", "v", "sqrt(vec_dot(v, v)) as nrm")
    val err = served.join(recon, "neighbor_id")
      .join(cent, "cell")
      .join(vecs.selectExpr("vec_id as query_id", "v as qv", "nrm as qn"),
        "query_id")
      .join(vecs.selectExpr("vec_id as neighbor_id", "nrm as nn"),
        "neighbor_id")
      .selectExpr("abs(approx_cosine - " +
        "(vec_dot(qv, centv) + vec_dot(qv, rv)) / (qn * nn)) as e")
      .agg(max($"e")).head().getDouble(0)
    assert(err < 1e-6, s"residual ADC diverged from reconstruction: $err")
  }

  test("incremental ingest: judge -> ingest -> judge next batch == live replay") {
    import org.apache.spark.sql.functions.{col, expr, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graftingest").toString
    Pipelines.materialize(spark, sf, dir)
    // split the "new" docs into two arrival days by doc_id parity
    val day1Band = "is_new and doc_id % 2 = 0"
    val day2Band = "is_new and doc_id % 2 = 1"
    val gate = "poly_hash37(concat(cast(doc_id as string), '-incr')) % 10 = 0"
    val day1Docs = s"($gate) and doc_id % 2 = 0"
    val day2Docs = s"($gate) and doc_id % 2 = 1"
    def bands = Dedup.minhashBuckets(spark, sf)
      .withColumn("pb", pmod(col("band_hash"), lit(32)))
    // day 1: served verdicts == live verdicts against base ∪ day1
    val live1 = Dedup.incrementalVerdicts(spark, sf,
      bands.where(expr(day1Band)),
      bands.where(expr(s"(not is_new) or ($day1Band)")),
      keys = Seq("pb", "band_idx", "band_hash"), judgedPred = day1Docs)
    assert(rows(Pipelines.dedupIncrementalFrom(spark, sf, dir,
      day1Band, day1Docs)) == rows(live1))
    // ingest day 1, then day 2's verdicts must see day-1 docs as BASE
    Pipelines.ingestBatch(spark, sf, dir, day1Band)
    val live2 = Dedup.incrementalVerdicts(spark, sf,
      bands.where(expr(day2Band)),
      bands.where(expr(s"(not is_new) or ($day1Band)"))
        .withColumn("is_new", lit(false))
        .union(bands.where(expr(day2Band))),
      keys = Seq("pb", "band_idx", "band_hash"), judgedPred = day2Docs)
    val served2 = Pipelines.dedupIncrementalFrom(spark, sf, dir,
      day2Band, day2Docs)
    assert(rows(served2) == rows(live2))
    assert(served2.count() > 0)
  }

  test("embedding crawl loop: served == live; ordered-split replay == one-shot verdicts") {
    import graft.textops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graftembloop").toString
    Pipelines.materializeEmbDedup(spark, sf, dir)
    // one-shot: served verdicts row-identical to the live query
    val live = Similarity.dedupEmbeddingIncremental(spark, sf)
    val served = Pipelines.embDedupIncrementalFrom(spark, sf, dir)
    assert(live.count() > 0 && rows(served) == rows(live))
    // the stream's micro-batch form: two arrival days split in vec_id
    // ORDER (so a day-1 id is always < a day-2 id and the base-match
    // unconditionality coincides with the one-shot's oid < qid
    // keep-first — the dedupIncrementalBatch replay test's trick),
    // with a crash-replay of day 1: the batch_id < id guard must make
    // the rerun judge against the exact pre-crash view
    val gated = Tables.embeddings(spark, sf)
      .where(expr(Similarity.EmbIncrNewGate))
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    def df(rs: Seq[(Long, Seq[Float])]) = rs.toDF("vec_id", "embedding")
    val (b0, b1) = gated.splitAt(gated.size / 2)
    microBatch(Pipelines.embDedupBatch(df(b0), 0, dir, s"$dir/verdicts"))
    microBatch(Pipelines.embDedupBatch(df(b0), 0, dir, s"$dir/verdicts")) // replay
    microBatch(Pipelines.embDedupBatch(df(b1), 1, dir, s"$dir/verdicts"))
    // the replayed ingest must have REWRITTEN batch 0's partitions,
    // not appended: duplicate index rows would inflate base.count()
    // (the cap derivation) and consume ranks in the per-cell occupancy
    // window, evicting genuine base rows wherever the cap binds —
    // poisoning every LATER batch's verdicts even though the replayed
    // batch itself judges correctly
    val idx = spark.read.parquet(s"$dir/emb_assign")
    assert(idx.count() == idx.select("vec_id").distinct().count(),
      "crash-replayed ingest left duplicate rows in emb_assign")
    val cols = Seq("vec_id", "keep", "n_dups", "dup_of", "best_cosine")
    val got = spark.read.parquet(s"$dir/verdicts").selectExpr(cols: _*)
      .as[(Long, Boolean, Long, Option[Long], Option[Double])].collect().toSet
    val want = live.selectExpr(cols: _*)
      .as[(Long, Boolean, Long, Option[Long], Option[Double])].collect().toSet
    assert(got == want,
      "embedding crawl replay diverged from the one-shot verdicts")
  }

  test("embedding crawl serve fails fast (naming the rebuild) on a legacy pc=-only index layout") {
    import graft.textops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graftembv1").toString
    Pipelines.materializeEmbDedup(spark, sf, dir)
    // reconstruct the pre-r15 layout: batch_id as a DATA column, pc
    // the only partition directory — one new-layout ingest into this
    // root would give Spark's partition discovery mixed directory
    // depths ("Conflicting directory structures") mid-stream
    val legacy = java.nio.file.Files.createTempDirectory("graftembv1l").toString
    spark.read.parquet(s"$dir/emb_centroids")
      .write.parquet(s"$legacy/emb_centroids")
    spark.read.parquet(s"$dir/emb_assign")
      .write.partitionBy("pc").parquet(s"$legacy/emb_assign")
    val ex = intercept[IllegalArgumentException] {
      Pipelines.embDedupIncrementalFrom(spark, sf, legacy).collect()
    }
    assert(ex.getMessage.contains("materializeEmbDedup"),
      s"layout guard must name the rebuild path, got: ${ex.getMessage}")
  }

  test("materialized prototype gate: frozen-cutoff verdicts == live embedding_outliers") {
    import graft.textops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graftproto").toString
    Pipelines.materializeProtos(spark, sf, dir)
    // replaying the reference corpus through the stored gate must
    // reproduce the batch run's verdicts exactly (cutoff == boundary)
    val corpus = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "label", "cast(embedding as array<double>) as v")
    val served = Pipelines.outlierScoreFrom(spark, dir, corpus)
      .select($"vec_id", $"label", $"proto_cos", $"is_outlier")
    val live = Similarity.embeddingOutliers(spark, sf)
      .select($"vec_id", $"label", $"proto_cos", $"is_outlier")
    assert(rows(served.orderBy($"label", $"vec_id")) ==
      rows(live.orderBy($"label", $"vec_id")))
    // gate sanity on unseen vectors with known cosines: the stored
    // prototype itself scores exactly 1 (kept — no corpus cutoff
    // reaches 1), its negation exactly -1 (flagged whenever the
    // label has a cutoff at all)
    val proto = spark.read.parquet(s"$dir/protos")
      .where($"cutoff".isNotNull).limit(1)
    val probes = proto.selectExpr("cast(2000000 as bigint) as vec_id",
        "label", "centv as v")
      .union(proto.selectExpr("cast(2000001 as bigint) as vec_id",
        "label", "transform(centv, x -> -x) as v"))
    val verdicts = Pipelines.outlierScoreFrom(spark, dir, probes)
      .select($"vec_id", $"is_outlier").as[(Long, Boolean)].collect().toMap
    assert(!verdicts(2000000L), "the prototype itself was flagged")
    assert(verdicts(2000001L), "the antipodal vector was not flagged")
  }

  test("materialized eval index: served decontamination == live query") {
    import graft.textops.TextStats
    val dir = java.nio.file.Files.createTempDirectory("grafteval").toString
    Pipelines.materializeEval(spark, sf, dir)
    assert(rows(Pipelines.decontaminateFrom(spark, sf, dir)) ==
      rows(TextStats.decontamination(spark, sf)))
  }

  test("materialized eval panel: served semantic decontamination == live query") {
    import graft.textops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graftsemdc").toString
    Pipelines.materializeEvalVecs(spark, sf, dir)
    // replay the live query's own train side through the stored panel
    val n = Tables.embeddings(spark, sf).count()
    val mod = Similarity.autoSampleMod(n)
    val train = Tables.embeddings(spark, sf)
      .where(expr(s"vec_id % $mod <> 0"))
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val served = Pipelines.semanticDecontaminateFrom(spark, dir, train)
    assert(rows(served) ==
      rows(Similarity.embeddingDecontamination(spark, sf)))
    assert(served.count() > 0)
  }
}
