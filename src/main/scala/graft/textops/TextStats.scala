package graft.textops

import graft.Tables
import graft.streaming.BlockHygiene
import graft.textops.TextHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document text analysis: token counts (whitespace + BPE-ish
  * regex), quality scoring, n-gram-heuristic language id, and rolling
  * polynomial fingerprints. All single-pass narrow transforms — no
  * shuffle except the final presentation sort, so the 100 TB plan is
  * one map stage over the scan.
  */
object TextStats {

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  private def inList(v: String, xs: Seq[String]) =
    xs.map(s => s"'$s'").mkString(s"$v in (", ", ", ")")

  /** Token counts + quality features, as a stream-safe narrow
    * transform over any (doc_id, lang, text) frame — single-pass
    * per-row expressions, no shuffle, so it applies unchanged to a
    * readStream source (the ingest-time quality gate).
    */
  def textStatsFrom(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", "lang", "length(text) as n_chars",
        s"$tokensSpark as tokens",
        """size(regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)) as bpe_tokens""")
      .selectExpr("doc_id", "lang", "n_chars", "bpe_tokens",
        "size(tokens) as n_tokens",
        s"size(filter(tokens, sw -> ${inList("sw", Stopwords)})) as stop_cnt",
        "aggregate(transform(tokens, tl -> cast(length(tl) as bigint)), cast(0 as bigint), (la, lb) -> la + lb) as tok_chars")
      .selectExpr("doc_id", "lang", "n_chars", "n_tokens", "bpe_tokens", "stop_cnt",
        "cast(tok_chars as double) / n_tokens as avg_tok_len",
        "cast(stop_cnt as double) / n_tokens as stop_ratio",
        "0.5 * least(n_tokens / 100.0, 1.0) + 0.5 * (cast(stop_cnt as double) / n_tokens) as quality")

  /** Token counts + quality features per document. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    textStatsFrom(Tables.documents(spark, sfDir)).orderBy(col("doc_id"))

  /** Shared DuckDB CTE chain ending in `qual(doc_id, lang, n_chars,
    * n_tokens, bpe_tokens, stop_cnt, avg_tok_len, stop_ratio, quality)`
    * — reused by the corpus_prep composite oracle.
    */
  val textStatsCtes: String =
    s"""tsbase AS (
       |  SELECT doc_id, lang, length(text) AS n_chars,
       |         $tokensDuck AS tokens,
       |         len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_tokens
       |  FROM documents
       |), feat AS (
       |  SELECT doc_id, lang, n_chars, bpe_tokens,
       |         len(tokens) AS n_tokens,
       |         len(list_filter(tokens, sw -> ${inList("sw", Stopwords)})) AS stop_cnt,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(tokens, tl -> CAST(length(tl) AS BIGINT))),
       |           (la, lb) -> la + lb) AS tok_chars
       |  FROM tsbase
       |), qual AS (
       |  SELECT doc_id, lang, n_chars, n_tokens, bpe_tokens, stop_cnt,
       |         CAST(tok_chars AS DOUBLE) / n_tokens AS avg_tok_len,
       |         CAST(stop_cnt AS DOUBLE) / n_tokens AS stop_ratio,
       |         0.5 * least(n_tokens / 100.0, 1.0)
       |           + 0.5 * (CAST(stop_cnt AS DOUBLE) / n_tokens) AS quality
       |  FROM feat
       |)""".stripMargin

  val textStatsOracle: String =
    s"""WITH $textStatsCtes
       |SELECT doc_id, lang, n_chars, n_tokens, bpe_tokens, stop_cnt,
       |       avg_tok_len, stop_ratio, quality
       |FROM qual ORDER BY doc_id""".stripMargin

  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "la", "y", "los", "de", "un"))

  /** N-gram-heuristic language id: count marker-stopword hits per
    * language, argmax with fixed priority tie-break; 'und' (sic:
    * undetermined) when no marker hits at all.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scoreCols = Markers.map { case (l, ws) =>
      s"size(filter(tokens, w$l -> ${inList(s"w$l", ws)})) as s_$l"
    }
    val langs = Markers.map(_._1)
    val allZero = langs.map(l => s"s_$l = 0").mkString(" and ")
    val argmax = langs.zipWithIndex.map { case (l, i) =>
      val geRest = langs.drop(i + 1).map(o => s"s_$l >= s_$o")
      val cond = if (geRest.isEmpty) "true" else geRest.mkString(" and ")
      s"when $cond then '$l'"
    }.mkString(" ")
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "lang", s"$tokensSpark as tokens")
      .selectExpr(("doc_id" +: "lang" +: scoreCols): _*)
      .selectExpr(("doc_id" +: "lang" +: langs.map(l => s"s_$l")) :+
        s"case when $allZero then 'und' $argmax end as pred_lang": _*)
      .orderBy(col("doc_id"))
  }

  val langIdOracle: String = {
    val scoreCols = Markers.map { case (l, ws) =>
      s"len(list_filter(tokens, w$l -> ${inList(s"w$l", ws)})) AS s_$l"
    }.mkString(",\n         ")
    val langs = Markers.map(_._1)
    val allZero = langs.map(l => s"s_$l = 0").mkString(" AND ")
    val argmax = langs.zipWithIndex.map { case (l, i) =>
      val geRest = langs.drop(i + 1).map(o => s"s_$l >= s_$o")
      val cond = if (geRest.isEmpty) "true" else geRest.mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, $tokensDuck AS tokens FROM documents
       |), scores AS (
       |  SELECT doc_id, lang,
       |         $scoreCols
       |  FROM toks
       |)
       |SELECT doc_id, lang, ${langs.map(l => s"s_$l").mkString(", ")},
       |       CASE WHEN $allZero THEN 'und' $argmax END AS pred_lang
       |FROM scores ORDER BY doc_id""".stripMargin
  }

  /** Classifier evaluation for [[langId]]: the confusion matrix
    * against the corpus's ground-truth `lang` column — per
    * (true, predicted) counts and the per-true-language share (the
    * diagonal row is that language's recall). The eval loop every
    * heuristic classifier ships with: a marker-list change shows up
    * here as a moved confusion mass, not as silent drift.
    *
    * Scale shape: the per-doc scoring is [[langId]]'s narrow map; the
    * confusion aggregate is a (langs × langs)-row groupBy with
    * map-side partials, and the share window partitions on the
    * bounded true-language key.
    */
  def langIdEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    langId(spark, sfDir)
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("n_true", sum($"n").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"lang")))
      .selectExpr("lang", "pred_lang", "n",
        "cast(n as double) / n_true as share")
      .orderBy($"lang", $"pred_lang")
  }

  val langIdEvalOracle: String =
    s"""WITH p AS (
       |${langIdOracle.linesIterator.map("  " + _).mkString("\n")}
       |), c AS (
       |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM p GROUP BY 1, 2
       |)
       |SELECT lang, pred_lang, n,
       |       CAST(n AS DOUBLE)
       |         / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS share
       |FROM c ORDER BY lang, pred_lang""".stripMargin

  /** Rolling-hash document fingerprints: full-text polynomial hash +
    * min of all 16-char rolling window hashes (winnowing-style robust
    * fingerprint, stable under small appends/prepends).
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        "poly_hash(text) as fp_full",
        // native O(n*w) rolling loop; the HOF form (n interpreted
        // substring+fold lambdas) computes the identical value
        "rolling_min_hash(text, 16) as fp_winnow")
      .orderBy(col("doc_id"))
  }

  /** TF-IDF keyword extraction: top-3 terms per document by
    * tf·idf = (term_cnt / n_tokens) · (N / doc_freq). The idf uses the
    * raw N/df ratio (no logarithm): log changes ranking monotonically
    * per-term ONLY via df, and exact-division doubles are bit-identical
    * across engines while `ln` rounding is libm-dependent — determinism
    * is part of the operator's contract here.
    *
    * Shape notes for 100 TB: the doc-frequency dictionary is a
    * vocabulary-sized aggregate joined back to the posting list — at
    * this SF Spark broadcasts it; at corpus scale it becomes a
    * shuffled equi-join on the term (both sides partial-aggregated),
    * never a cross product. The per-doc top-3 is a rank that pushes
    * down (WindowGroupLimit), so only 3 rows per doc survive the map
    * side.
    */
  def docTopTerms(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    // n_tokens computed BEFORE the explode (carrying the whole token
    // array on every posting row is O(tokens²) payload per doc), and
    // the posting aggregate materialized once — it feeds three
    // consumers (main join, doc_freq, n_docs) that Catalyst would
    // otherwise each recompute from the tokenize+explode scan
    val toks = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", s"$tokensSpark as tokens")
      .where("size(tokens) >= 1")
      .selectExpr("doc_id", "size(tokens) as n_tokens", "explode(tokens) as term")
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("cnt"), min($"n_tokens").as("n_tokens"))
      .transform(BlockHygiene.checkpointTracked)
    val df = toks.groupBy($"term").agg(count(lit(1)).as("doc_freq"))
    // corpus size as a broadcast 1-row join, NOT an eager .count():
    // the query stays lazy and single-job (no driver-side action in a
    // query path)
    val nDf = toks.agg(countDistinct($"doc_id").as("n_docs"))
    toks.join(df, "term").crossJoin(broadcast(nDf))
      .withColumn("tfidf",
        expr("(cast(cnt as double) / n_tokens) * (cast(n_docs as double) / doc_freq)"))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"tfidf".desc, $"term".asc)))
      .where($"rnk" <= k)
      .select($"doc_id", $"term", $"tfidf", $"rnk".cast("int").as("rnk"))
      .orderBy($"doc_id", $"rnk")
  }

  val docTopTermsOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), nonempty AS (
       |  SELECT doc_id, tokens FROM toks WHERE len(tokens) >= 1
       |), posting AS (
       |  SELECT doc_id, unnest(tokens) AS term, len(tokens) AS n_tokens
       |  FROM nonempty
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS cnt, min(n_tokens) AS n_tokens
       |  FROM posting GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1
       |), n AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs FROM tf
       |), scored AS (
       |  SELECT t.doc_id, t.term,
       |         (CAST(t.cnt AS DOUBLE) / t.n_tokens)
       |           * (CAST(n.n_docs AS DOUBLE) / d.doc_freq) AS tfidf
       |  FROM tf t JOIN dfreq d ON t.term = d.term CROSS JOIN n
       |), ranked AS (
       |  SELECT doc_id, term, tfidf,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY tfidf DESC, term ASC) AS rnk
       |  FROM scored
       |)
       |SELECT doc_id, term, tfidf, CAST(rnk AS INT) AS rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** Vocabulary induction — the tokenizer-prep pass: the top-V corpus
    * tokens by frequency, with each prefix's cumulative coverage of
    * all token occurrences (what vocab size V buys you, the curve a
    * BPE trainer starts from). Token counts are one explode +
    * partial-aggregated groupBy; the top-V cut is orderBy+limit —
    * TakeOrderedAndProject, per-partition top-V then a merge of
    * V-sized heaps, never a global sort. The windowed cumsum and rank
    * run AFTER the limit, over exactly V rows — the single-partition
    * window is bounded by the parameter, not the data. Corpus total
    * rides in as a broadcast 1-row cross join off the SAME
    * materialized counts (vocabulary-sized, localCheckpoint'd once —
    * Catalyst would otherwise re-tokenize the corpus for each
    * consumer). (cnt desc, token) is a total order, so the V-boundary
    * and the cumsum are deterministic under ties.
    */
  def vocabTopV(spark: SparkSession, sfDir: String, v: Int = 100): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"cnt".desc, $"token".asc)
    val counts = Tables.documents(spark, sfDir)
      .selectExpr(s"explode($tokensSpark) as token")
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .transform(BlockHygiene.checkpointTracked)
    val total = counts.agg(sum($"cnt").as("total"))
    counts.orderBy($"cnt".desc, $"token".asc).limit(v)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn("cum_share",
        sum($"cnt").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)).cast("double")
          / $"total".cast("double"))
      .select($"rank", $"token", $"cnt", $"cum_share")
      .orderBy($"rank")
  }

  def vocabTopVOracle(v: Int = 100): String =
    s"""WITH toks AS (
       |  SELECT unnest($tokensDuck) AS token FROM documents
       |), counts AS (
       |  SELECT token, count(*) AS cnt FROM toks GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts
       |), topv AS (
       |  SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT $v
       |)
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
       |       token, cnt,
       |       CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |         / CAST(total AS DOUBLE) AS cum_share
       |FROM topv CROSS JOIN tot ORDER BY rank""".stripMargin

  /** Bigram successor table — per-token top-k next-token counts and
    * conditional probability (the n-gram-LM table quick evals and
    * contamination probes are built from). Bigrams are a narrow
    * array-transform explode (guarded `size >= 2` BEFORE the
    * transform: Spark's `sequence(1, 0)` counts DOWN, so an unguarded
    * 1-token doc would fabricate a reversed pair); one keyed
    * aggregation, then the per-w1 total and the rank cut share ONE
    * hash exchange on w1 (two in-partition sorts — the windows order
    * differently — but the data moves once, and the rank filter
    * prunes as WindowGroupLimit above the total window; plan-pinned
    * in PlanSpec). prob is cnt/total on exact bigints —
    * engine-portable division.
    */
  def ngramNext(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"w1")
    val counts = Tables.documents(spark, sfDir)
      .selectExpr(s"$tokensSpark as tokens")
      .where("size(tokens) >= 2")
      .selectExpr("explode(transform(sequence(1, size(tokens) - 1), " +
        "bi -> struct(element_at(tokens, bi) as w1, element_at(tokens, bi + 1) as w2))) as bg")
      .select($"bg.w1".as("w1"), $"bg.w2".as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("total", sum($"cnt").over(w))
      .withColumn("rnk", row_number().over(
        w.orderBy($"cnt".desc, $"w2".asc)).cast("int"))
      .where($"rnk" <= k)
      .withColumn("prob", $"cnt".cast("double") / $"total".cast("double"))
      .select($"w1", $"w2", $"cnt", $"prob", $"rnk")
      .orderBy($"w1", $"rnk")
  }

  def ngramNextOracle(k: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT $tokensDuck AS tokens FROM documents
       |), nonempty AS (
       |  SELECT tokens FROM toks WHERE len(tokens) >= 2
       |), bigrams AS (
       |  SELECT tokens[bi] AS w1, tokens[bi + 1] AS w2
       |  FROM nonempty, UNNEST(range(1, len(tokens))) t(bi)
       |), counts AS (
       |  SELECT w1, w2, count(*) AS cnt FROM bigrams GROUP BY 1, 2
       |), ranked AS (
       |  SELECT w1, w2, cnt,
       |         CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS total,
       |         CAST(row_number() OVER (PARTITION BY w1
       |                ORDER BY cnt DESC, w2 ASC) AS INT) AS rnk
       |  FROM counts
       |)
       |SELECT w1, w2, cnt,
       |       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS prob, rnk
       |FROM ranked WHERE rnk <= $k ORDER BY w1, rnk""".stripMargin

  val docFingerprintOracle: String =
    s"""SELECT doc_id,
       |       ${phDuck("text", "f")} AS fp_full,
       |       list_min(list_transform(range(1, greatest(length(text) - 15, 1) + 1), wi ->
       |         ${phDuck("substring(text, wi, 16)", "w")})) AS fp_winnow
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Repetition-ratio quality signal (the C4/Gopher-style "most
    * frequent n-gram share"): a doc whose single most common 3-gram
    * covers a large fraction of all its 3-grams is boilerplate or a
    * generation loop, and training pipelines drop it. Shape is the
    * distributed one — explode the native shingle array and count —
    * so a single enormous document aggregates across partitions
    * instead of building a per-row map; docs with <3 tokens have no
    * 3-gram and are excluded (they're length-filtered upstream anyway).
    */
  def docRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "shingle_hashes(text) as sh")
      .where("size(sh) >= 1")
      .selectExpr("doc_id", "explode(sh) as h")
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_shingles"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .selectExpr("doc_id", "n_shingles", "n_distinct", "top_cnt",
        "cast(top_cnt as double) / n_shingles as rep_ratio")
      .orderBy(col("doc_id"))
  }

  /** Train/eval contamination check — the decontamination pass every
    * training-data pipeline runs before shipping an eval set: an eval
    * document whose 3-gram shingles largely appear anywhere in the
    * train split is leaked. Split assignment reuses corpus_sample's
    * content-hash buckets (train < 90, eval = the ≥ 95 test slice);
    * the check is an inverted-index equi-join on shingle hash — the
    * train side builds the distinct-shingle index (the big side; at
    * 100 TB this is the posting-list shuffle, never doc×doc pairs),
    * the eval side probes per (doc, distinct shingle). Output per eval
    * doc: distinct shingles, how many hit the train index, their
    * ratio, and a ≥ 0.5 leak flag.
    */
  def decontamination(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        "poly_hash(cast(doc_id as string)) % 100 as bucket",
        "shingle_hashes(text) as sh")
      .where("size(sh) >= 1")
    val trainIndex = docs.where(col("bucket") < 90)
      .selectExpr("explode(sh) as shingle").distinct()
    val evalShingles = docs.where(col("bucket") >= 95)
      .selectExpr("doc_id", "explode(sh) as shingle").distinct()
    val totals = evalShingles.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = evalShingles.join(trainIndex, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .selectExpr("doc_id", "n_shingles", "n_hit",
        "cast(n_hit as double) / n_shingles as contamination")
      .withColumn("flagged", col("contamination") >= 0.5)
      .orderBy(col("doc_id"))
  }

  lazy val decontaminationOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), th AS (
       |  SELECT doc_id, list_transform(tokens, tk -> ${phDuck("tk", "h")}) AS tharr
       |  FROM toks WHERE len(tokens) >= 3
       |), sh AS (
       |  SELECT doc_id,
       |         ${phDuck("CAST(doc_id AS VARCHAR)", "b")} % 100 AS bucket,
       |         list_transform(range(0, len(tharr) - 2), sj ->
       |    ((tharr[sj + 1] * $ShingleMult + tharr[sj + 2]) % $P
       |     * $ShingleMult + tharr[sj + 3]) % $P) AS sh FROM th
       |), train AS (
       |  SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE bucket < 90
       |), ev AS (
       |  SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM sh WHERE bucket >= 95
       |), totals AS (
       |  SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY 1
       |), hits AS (
       |  SELECT e.doc_id, count(*) AS n_hit
       |  FROM ev e JOIN train t ON e.shingle = t.shingle GROUP BY 1
       |)
       |SELECT t.doc_id, t.n_shingles, COALESCE(h.n_hit, 0) AS n_hit,
       |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_shingles AS contamination,
       |       (CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_shingles) >= 0.5 AS flagged
       |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Vocabulary-coverage / OOV-rate evaluation: per document, the
    * share of token occurrences outside the corpus top-`v` vocabulary
    * — the tokenizer-coverage check run before committing a vocab
    * (vocab_topv builds the candidate vocabulary; this evaluates it).
    * Scale shape: the vocabulary is a TakeOrderedAndProject cut
    * broadcast into the token stream (map-side membership probe — the
    * token explode never shuffles), and the per-doc aggregate
    * partial-aggregates to one row per document per task.
    */
  def oovRate(spark: SparkSession, sfDir: String, v: Int = 20): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", s"explode($tokensSpark) as token")
    val vocab = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token".asc).limit(v)
      .select($"token", lit(1L).as("in_vocab"))
    oovRateFrom(Tables.documents(spark, sfDir), vocab).orderBy($"doc_id")
  }

  /** Stream-safe core of [[oovRate]] against a PREcomputed vocabulary
    * — the ingest-time form: the vocab is a static table broadcast
    * into the document stream (stream-static join, no state), and the
    * per-doc aggregate is append-able per micro-batch in complete /
    * update mode. Batch [[oovRate]] derives the vocab and delegates
    * here, so the two forms share the scoring path verbatim.
    */
  def oovRateFrom(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", s"explode($tokensSpark) as token")
      .join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .selectExpr("doc_id", "n_tokens", "n_oov",
        "cast(n_oov as double) / n_tokens as oov_rate")

  def oovRateOracle(v: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensDuck) AS token FROM documents
       |), counts AS (
       |  SELECT token, count(*) AS cnt FROM toks GROUP BY 1
       |), vocab AS (
       |  SELECT token FROM counts ORDER BY cnt DESC, token LIMIT $v
       |)
       |SELECT t.doc_id, count(*) AS n_tokens,
       |       CAST(sum(CASE WHEN vb.token IS NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_oov,
       |       CAST(CAST(sum(CASE WHEN vb.token IS NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS DOUBLE) / count(*) AS oov_rate
       |FROM toks t LEFT JOIN vocab vb ON t.token = vb.token
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Gopher-style composite quality gate: the multi-rule document
    * filter (length window, mean-token-length window, minimum stopword
    * evidence, repetition ceiling) a pretraining pipeline applies
    * before dedup. Rules are emitted as individual columns — a
    * pipeline tunes thresholds by inspecting per-rule kill rates, not
    * just the final verdict. Feature reuse: token features ride
    * [[textStatsFrom]] (narrow single pass) and the repetition share
    * rides the shingle chain shared with the MinHash tier; the doc_id
    * join of the two per-doc aggregates is the only extra exchange.
    * Thresholds tuned to THIS corpus's spread (n_tokens 10-99,
    * rep_ratio 0.01-0.14) so each rule genuinely splits.
    */
  def qualityGopher(spark: SparkSession, sfDir: String,
                    minTokens: Int = 30, maxTokens: Int = 10000,
                    minTokLen: Double = 3.0, maxTokLen: Double = 10.0,
                    minStop: Int = 2, maxRep: Double = 0.1): DataFrame = {
    import spark.implicits._
    val feats = textStatsFrom(Tables.documents(spark, sfDir))
      .select($"doc_id", $"n_tokens", $"avg_tok_len", $"stop_cnt")
    val rep = docRepetition(spark, sfDir).select($"doc_id", $"rep_ratio")
    feats.join(rep, Seq("doc_id"), "left_outer")
      .withColumn("rep_ratio", coalesce($"rep_ratio", lit(0.0)))
      .selectExpr("doc_id", "n_tokens", "avg_tok_len", "stop_cnt", "rep_ratio",
        s"n_tokens >= $minTokens and n_tokens <= $maxTokens as r_len",
        s"avg_tok_len >= $minTokLen and avg_tok_len <= $maxTokLen as r_tok_len",
        s"stop_cnt >= $minStop as r_stop",
        s"rep_ratio <= $maxRep as r_rep")
      .withColumn("passes", $"r_len" && $"r_tok_len" && $"r_stop" && $"r_rep")
      .orderBy($"doc_id")
  }

  /** Stream-safe form of [[qualityGopher]]: the repetition share is
    * computed NARROWLY per row — `rep_ratio = max multiplicity in the
    * row's own shingle array / array size` — instead of the batch
    * form's explode + two-level groupBy, so the whole gate applies
    * unchanged to a readStream source (the full-Gopher ingest gate;
    * corpusPrepStream's quality floor is the single-score version).
    * O(distinct·n) lambda work per document — bounded by the document,
    * irrelevant at ingest rates; the BATCH query keeps the distributed
    * explode-count shape, and a parity spec pins the two equal.
    */
  def qualityGopherFrom(docs: DataFrame,
                        minTokens: Int = 30, maxTokens: Int = 10000,
                        minTokLen: Double = 3.0, maxTokLen: Double = 10.0,
                        minStop: Int = 2, maxRep: Double = 0.1): DataFrame =
    docs
      // same feature arithmetic as textStatsFrom (the parity spec pins
      // this equal to the batch gate, so any drift fails loudly), in
      // one chain so the shingle array rides along — a join of two
      // stream derivations would be a stream-stream self join
      .selectExpr("doc_id", s"$tokensSpark as tokens",
        "shingle_hashes(text) as sh")
      .selectExpr("doc_id", "sh", "size(tokens) as n_tokens",
        s"size(filter(tokens, sw -> ${inList("sw", Stopwords)})) as stop_cnt",
        "aggregate(transform(tokens, tl -> cast(length(tl) as bigint)), cast(0 as bigint), (la, lb) -> la + lb) as tok_chars")
      .selectExpr("doc_id", "n_tokens", "stop_cnt",
        "cast(tok_chars as double) / n_tokens as avg_tok_len",
        """case when size(sh) < 1 then cast(0.0 as double)
          |else cast(array_max(transform(array_distinct(sh),
          |       dh -> size(filter(sh, xh -> xh = dh)))) as double) / size(sh)
          |end as rep_ratio""".stripMargin)
      .selectExpr("doc_id", "n_tokens", "avg_tok_len", "stop_cnt", "rep_ratio",
        s"n_tokens >= $minTokens and n_tokens <= $maxTokens as r_len",
        s"avg_tok_len >= $minTokLen and avg_tok_len <= $maxTokLen as r_tok_len",
        s"stop_cnt >= $minStop as r_stop",
        s"rep_ratio <= $maxRep as r_rep")
      .withColumn("passes",
        col("r_len") && col("r_tok_len") && col("r_stop") && col("r_rep"))

  /** Composes the textStats CTE chain with the repetition chain — the
    * whole gate is hash-checked, not just its inputs. */
  def qualityGopherOracle(minTokens: Int = 30, maxTokens: Int = 10000,
                          minTokLen: Double = 3.0, maxTokLen: Double = 10.0,
                          minStop: Int = 2, maxRep: Double = 0.1): String =
    s"""WITH $textStatsCtes, th AS (
       |  SELECT doc_id, list_transform(tokens, tk -> ${phDuck("tk", "h")}) AS tharr
       |  FROM tsbase WHERE len(tokens) >= 3
       |), shx AS (
       |  SELECT doc_id, list_transform(range(0, len(tharr) - 2), sj ->
       |    ((tharr[sj + 1] * $ShingleMult + tharr[sj + 2]) % $P
       |     * $ShingleMult + tharr[sj + 3]) % $P) AS sh FROM th
       |), excnt AS (
       |  SELECT doc_id, h, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(sh) AS h FROM shx) GROUP BY 1, 2
       |), rep AS (
       |  SELECT doc_id,
       |         CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS BIGINT) AS rep_ratio
       |  FROM excnt GROUP BY 1
       |)
       |SELECT q.doc_id, q.n_tokens, q.avg_tok_len, q.stop_cnt,
       |       COALESCE(r.rep_ratio, 0.0) AS rep_ratio,
       |       q.n_tokens >= $minTokens AND q.n_tokens <= $maxTokens AS r_len,
       |       q.avg_tok_len >= $minTokLen AND q.avg_tok_len <= $maxTokLen AS r_tok_len,
       |       q.stop_cnt >= $minStop AS r_stop,
       |       COALESCE(r.rep_ratio, 0.0) <= $maxRep AS r_rep,
       |       (q.n_tokens >= $minTokens AND q.n_tokens <= $maxTokens)
       |         AND (q.avg_tok_len >= $minTokLen AND q.avg_tok_len <= $maxTokLen)
       |         AND q.stop_cnt >= $minStop
       |         AND COALESCE(r.rep_ratio, 0.0) <= $maxRep AS passes
       |FROM qual q LEFT JOIN rep r ON q.doc_id = r.doc_id
       |ORDER BY q.doc_id""".stripMargin

  /** BM25 document ranking for a fixed query — the retrieval-eval op a
    * corpus index ships with (doc_top_terms builds the TF-IDF surface;
    * this scores and ranks against an actual query). Deviations from
    * textbook BM25, both for engine-exactness:
    *  - rational idf (N−df+½)/(df+½) instead of its log — ln is not
    *    bit-portable across engines; the ranking is order-equivalent
    *    per term (log is monotone) and hash-reproducible.
    *  - per-term scores quantized to floor(score·10⁶) BIGINT before
    *    the per-doc sum — a double sum across query terms would be
    *    partition-order dependent.
    *
    * Scale shape: the token filter applies directly above the explode
    * (no shuffle sees non-query tokens), the (doc, token) tf aggregate
    * is materialized ONCE (localCheckpoint — both the scoring rows and
    * the df dictionary read it; without the checkpoint Catalyst
    * recomputes the whole explode+aggregate subtree per consumer), the
    * 3-row df/N/avgdl dictionaries broadcast, and the top-k cut is
    * TakeOrderedAndProject.
    */
  def bm25Rank(spark: SparkSession, sfDir: String,
               query: Seq[String] = Seq("table", "spark", "join"),
               k: Int = 20): DataFrame = {
    import spark.implicits._
    val qList = inList("token", query)
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", s"$tokensSpark as tokens")
      .selectExpr("doc_id", "tokens", "cast(size(tokens) as bigint) as dl")
    val corpus = docs.agg(count(lit(1)).as("n_corpus"), sum($"dl").as("len_sum"))
    val hits = docs
      .selectExpr("doc_id", "dl", "explode(tokens) as token")
      .where(expr(qList))
      .groupBy($"doc_id", $"dl", $"token").agg(count(lit(1)).as("tf"))
      .transform(BlockHygiene.checkpointTracked)
    val dfreq = hits.groupBy($"token").agg(count(lit(1)).as("df"))
    hits.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", expr("cast(len_sum as double) / n_corpus"))
      .withColumn("idfr", expr(
        "(cast(n_corpus as double) - cast(df as double) + cast(0.5 as double)) / (cast(df as double) + cast(0.5 as double))"))
      .withColumn("tfpart", expr(
        "cast(tf as double) * cast(2.2 as double) / (cast(tf as double) + cast(1.2 as double) * (cast(0.25 as double) + cast(0.75 as double) * cast(dl as double) / avgdl))"))
      .withColumn("term_micro", expr("cast(floor(idfr * tfpart * 1000000) as bigint)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"term_micro").as("score_micro"))
      .selectExpr("doc_id", "n_terms",
        "cast(score_micro as double) / 1000000.0 as score")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"score".desc, $"doc_id".asc)).cast("int"))
      .select($"rank", $"doc_id", $"n_terms", $"score")
  }

  def bm25RankOracle(query: Seq[String] = Seq("table", "spark", "join"),
                     k: Int = 20): String = {
    val qList = inList("token", query)
    s"""WITH docs AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), sized AS (
       |  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl, tokens FROM docs
       |), corpus AS (
       |  SELECT count(*) AS n_corpus, CAST(sum(dl) AS BIGINT) AS len_sum FROM sized
       |), hits AS (
       |  SELECT doc_id, dl, token, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(tokens) AS token FROM sized)
       |  WHERE $qList GROUP BY 1, 2, 3
       |), dfreq AS (
       |  SELECT token, count(*) AS df FROM hits GROUP BY 1
       |), terms AS (
       |  SELECT h.doc_id,
       |         CAST(floor(
       |           ((CAST(n_corpus AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |           * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE) / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(len_sum AS DOUBLE) / n_corpus))))
       |           * 1000000) AS BIGINT) AS term_micro
       |  FROM hits h JOIN dfreq USING (token) CROSS JOIN corpus
       |), scored AS (
       |  SELECT doc_id, count(*) AS n_terms,
       |         CAST(CAST(sum(term_micro) AS BIGINT) AS DOUBLE) / 1000000.0 AS score
       |  FROM terms GROUP BY 1
       |), cut AS (
       |  SELECT doc_id, n_terms, score FROM scored
       |  ORDER BY score DESC, doc_id ASC LIMIT $k
       |)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
       |         AS rank,
       |       doc_id, n_terms, score
       |FROM cut ORDER BY rank""".stripMargin
  }

  /** Per-source data card — the curation report a corpus ships with:
    * document/token volume, mean quality, and the share passing the
    * Gopher gate, per provenance source. Float means use the
    * micro-unit trick (floor(q·10⁹) BIGINT sums — partition-order
    * independent AND engine-exact; a plain avg(double) is neither).
    * Scale shape: rides the same narrow feature passes as
    * [[qualityGopher]]; the per-source aggregate partial-aggregates to
    * O(sources) rows per task.
    */
  def sourceDatacard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gate = qualityGopher(spark, sfDir).select($"doc_id", $"passes")
    val src = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    val feats = textStatsFrom(Tables.documents(spark, sfDir))
      .select($"doc_id", $"n_tokens", $"quality")
    src.join(feats, "doc_id").join(gate, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum(expr("cast(floor(quality * 1000000000) as bigint)")).as("qsum"),
        sum(when($"passes", 1L).otherwise(0L)).as("n_pass"))
      .selectExpr("source", "n_docs", "total_tokens",
        "cast(qsum as double) / n_docs / 1000000000.0 as mean_quality",
        "n_pass", "cast(n_pass as double) / n_docs as pass_rate")
      .orderBy($"source")
  }

  def sourceDatacardOracle: String =
    s"""WITH $textStatsCtes, th AS (
       |  SELECT doc_id, list_transform(tokens, tk -> ${phDuck("tk", "h")}) AS tharr
       |  FROM tsbase WHERE len(tokens) >= 3
       |), shx AS (
       |  SELECT doc_id, list_transform(range(0, len(tharr) - 2), sj ->
       |    ((tharr[sj + 1] * $ShingleMult + tharr[sj + 2]) % $P
       |     * $ShingleMult + tharr[sj + 3]) % $P) AS sh FROM th
       |), excnt AS (
       |  SELECT doc_id, h, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(sh) AS h FROM shx) GROUP BY 1, 2
       |), rep AS (
       |  SELECT doc_id,
       |         CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS BIGINT) AS rep_ratio
       |  FROM excnt GROUP BY 1
       |), gate AS (
       |  SELECT q.doc_id,
       |         (q.n_tokens >= 30 AND q.n_tokens <= 10000)
       |           AND (q.avg_tok_len >= 3.0 AND q.avg_tok_len <= 10.0)
       |           AND q.stop_cnt >= 2
       |           AND COALESCE(r.rep_ratio, 0.0) <= 0.1 AS passes
       |  FROM qual q LEFT JOIN rep r ON q.doc_id = r.doc_id
       |)
       |SELECT d.source, count(*) AS n_docs,
       |       CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(CAST(sum(CAST(floor(q.quality * 1000000000) AS BIGINT))
       |            AS DOUBLE) / count(*) / 1000000000.0 AS DOUBLE) AS mean_quality,
       |       CAST(sum(CASE WHEN g.passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |       CAST(CAST(sum(CASE WHEN g.passes THEN 1 ELSE 0 END) AS BIGINT)
       |            AS DOUBLE) / count(*) AS pass_rate
       |FROM documents d
       |JOIN qual q ON d.doc_id = q.doc_id
       |JOIN gate g ON d.doc_id = g.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** DuckDB replay of the same shingle chain (identical arithmetic to
    * the MinHash tier's) + unnest/count. */
  lazy val docRepetitionOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), th AS (
       |  SELECT doc_id, list_transform(tokens, tk -> ${phDuck("tk", "h")}) AS tharr
       |  FROM toks WHERE len(tokens) >= 3
       |), sh AS (
       |  SELECT doc_id, list_transform(range(0, len(tharr) - 2), sj ->
       |    ((tharr[sj + 1] * $ShingleMult + tharr[sj + 2]) % $P
       |     * $ShingleMult + tharr[sj + 3]) % $P) AS sh FROM th
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS h FROM sh
       |), cnts AS (
       |  SELECT doc_id, h, count(*) AS cnt FROM ex GROUP BY 1, 2
       |), agg AS (
       |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_shingles,
       |         count(*) AS n_distinct, max(cnt) AS top_cnt
       |  FROM cnts GROUP BY 1
       |)
       |SELECT doc_id, n_shingles, n_distinct, top_cnt,
       |       CAST(top_cnt AS DOUBLE) / n_shingles AS rep_ratio
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Corpus-trained bigram-LM document scoring — the CCNet/KenLM-style
    * perplexity filter: train an add-1-smoothed bigram model on the
    * train split (same poly_hash `% 100 < 90` gate as `corpus_sample`,
    * so the LM's training slice is exactly the corpus the model would
    * ship on), then score EVERY document by its mean bigram
    * probability. Low scores flag out-of-distribution text (gibberish,
    * wrong-language, boilerplate-free noise); val/test docs get true
    * held-out scores. Two deliberate substitutions keep the oracle
    * engine-exact:
    *  - mean probability instead of perplexity — exp/log are not
    *    bit-reproducible across engines (the bm25 rational-idf trick);
    *    both rank documents identically for a threshold gate,
    *  - each p(w2|w1) = (c₁₂+1)/(c₁+V) is quantized to floor(p·10⁶)
    *    BIGINT micro-units before the per-doc sum, making the score
    *    partition-order independent AND engine-exact.
    *
    * Scale shape: the bigram stream is materialized once
    * (localCheckpoint) and feeds the model counts, the context counts,
    * the vocab size, and the scoring join; counts partial-aggregate
    * map-side; scoring is a (w1,w2) equi-join against the model —
    * posting-list shape, broadcastable while the model is small,
    * shuffle-hash at corpus scale — never a pair blowup.
    */
  def ngramLmScore(spark: SparkSession, sfDir: String): DataFrame =
    ngramLmScoreFrom(Tables.documents(spark, sfDir))

  /** Core of [[ngramLmScore]] over any (doc_id, text) frame. */
  private[graft] def ngramLmScoreFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bigrams = docs
      .selectExpr("doc_id", s"$tokensSpark as tokens",
        "poly_hash(cast(doc_id as string)) % 100 < 90 as is_train")
      .selectExpr("doc_id", "is_train", "tokens",
        "cast(size(tokens) as bigint) as n")
      .where($"n" >= 2)
      .selectExpr("doc_id", "is_train",
        "explode(transform(sequence(1, cast(n - 1 as int)), ig -> " +
          "struct(element_at(tokens, ig) as w1, element_at(tokens, ig + 1) as w2))) as bg")
      .selectExpr("doc_id", "is_train", "bg.w1 as w1", "bg.w2 as w2")
      .transform(BlockHygiene.checkpointTracked)
    val train = bigrams.where($"is_train")
    val model = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val ctx = train.groupBy($"w1").agg(count(lit(1)).as("c1"))
    // V = distinct train tokens participating in a bigram; greatest(,1)
    // keeps the smoothing denominator alive on a degenerate corpus
    // whose train split is empty (the langRebalance guard pattern)
    val vsize = train.selectExpr("explode(array(w1, w2)) as tok")
      .agg(greatest(countDistinct($"tok"), lit(1L)).as("v"))
    bigrams
      .join(model, Seq("w1", "w2"), "left_outer")
      .join(ctx, Seq("w1"), "left_outer")
      .crossJoin(broadcast(vsize))
      .selectExpr("doc_id",
        "case when c12 is null then 1L else 0L end as oov",
        "cast(floor(cast(coalesce(c12, 0) + 1 as double) " +
          "/ cast(coalesce(c1, 0) + v as double) * 1000000) as bigint) as p_micro")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"oov").as("oov_bigrams"),
        sum($"p_micro").as("sum_micro"))
      .selectExpr("doc_id", "n_bigrams", "oov_bigrams",
        "cast(sum_micro as double) / n_bigrams / 1000000.0 as score")
      .orderBy($"doc_id")
  }

  /** DuckDB replay of [[ngramLmScore]]. The bigram fan-out uses the
    * per-row `unnest(generate_series(...))` idiom (same as the seqPack
    * oracle), so it is exact for ANY document length — an earlier
    * `range(256)` form silently capped documents at 257 tokens, a
    * data-generator change away from non-obvious oracle divergence.
    */
  lazy val ngramLmScoreOracle: String =
    s"""WITH docs AS (
       |  SELECT doc_id, $tokensDuck AS tokens,
       |         ${phDuck("CAST(doc_id AS VARCHAR)", "lm")} % 100 < 90 AS is_train
       |  FROM documents
       |), sized AS (
       |  SELECT doc_id, is_train, tokens, CAST(len(tokens) AS BIGINT) AS n
       |  FROM docs WHERE len(tokens) >= 2
       |), bg AS (
       |  SELECT doc_id, is_train,
       |         tokens[CAST(i AS INT) + 1] AS w1,
       |         tokens[CAST(i AS INT) + 2] AS w2
       |  FROM (SELECT doc_id, is_train, tokens,
       |               unnest(generate_series(CAST(0 AS BIGINT), n - 2)) AS i
       |        FROM sized)
       |), model AS (
       |  SELECT w1, w2, count(*) AS c12 FROM bg WHERE is_train GROUP BY 1, 2
       |), ctx AS (
       |  SELECT w1, count(*) AS c1 FROM bg WHERE is_train GROUP BY 1
       |), vsize AS (
       |  SELECT greatest(count(DISTINCT tok), 1) AS v FROM (
       |    SELECT unnest([w1, w2]) AS tok FROM bg WHERE is_train)
       |), scored AS (
       |  SELECT b.doc_id,
       |         CASE WHEN m.c12 IS NULL THEN 1 ELSE 0 END AS oov,
       |         CAST(floor(CAST(COALESCE(m.c12, 0) + 1 AS DOUBLE)
       |              / CAST(COALESCE(c.c1, 0) + v AS DOUBLE) * 1000000)
       |           AS BIGINT) AS p_micro
       |  FROM bg b
       |  LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
       |  LEFT JOIN ctx c ON b.w1 = c.w1
       |  CROSS JOIN vsize
       |)
       |SELECT doc_id, count(*) AS n_bigrams,
       |       CAST(sum(oov) AS BIGINT) AS oov_bigrams,
       |       CAST(CAST(sum(p_micro) AS BIGINT) AS DOUBLE) / count(*)
       |         / 1000000.0 AS score
       |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ── Normalization-invariant exact dedup (CCNet normalize_for_dedup) ─

  /** CCNet-style text normalization + keep-first exact dedup over the
    * NORMALIZED form: lowercase, fold every non-alphanumeric run to a
    * single space, trim — so docs differing only in case, punctuation,
    * or whitespace layout hash identically. One narrow map over the
    * scan (regex + poly fold, all codegen'd); the keeper is
    * `doc_id == min(doc_id)` per norm_hash group computed as a
    * PARTIAL-AGGREGATED groupBy joined back — not a rank window — the
    * same skew posture as `dedup_exact`: a corpus-wide boilerplate
    * duplicate makes one norm_hash hot, a window sort would funnel
    * that whole group into one task, but the min() partial agg
    * collapses it map-side and AQE splits the skewed join-back.
    *
    * REF: CCNet (Wenzek et al. 2020) §3.1 normalization before dedup;
    * complements `dedup_exact` (raw text) and the near-dup tiers.
    */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val h = Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')) as norm_text")
      .selectExpr("doc_id",
        "length(norm_text) as n_norm_chars",
        "poly_hash(norm_text) as norm_hash",
        "substring(norm_text, 1, 80) as norm_prefix")
    val mins = h.groupBy($"norm_hash").agg(min($"doc_id").as("keep_id"))
    h.join(mins, "norm_hash")
      .select($"doc_id", $"n_norm_chars", $"norm_hash", $"norm_prefix",
        ($"doc_id" === $"keep_id").as("keeper"))
      .orderBy($"doc_id")
  }

  val textNormalizeOracle: String =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
       |           AS norm_text
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, length(norm_text) AS n_norm_chars,
       |         ${phDuck("norm_text", "tn")} AS norm_hash,
       |         substr(norm_text, 1, 80) AS norm_prefix
       |  FROM norm
       |)
       |SELECT doc_id, n_norm_chars, norm_hash, norm_prefix,
       |       (doc_id = min(doc_id) OVER (PARTITION BY norm_hash)) AS keeper
       |FROM h ORDER BY doc_id""".stripMargin

  // ── Corpus-level n-gram diversity (per-source datacard metric) ─────

  /** Per-source lexical-diversity report: type-token ratio over
    * unigrams and distinct/total ratio over word trigrams — the
    * corpus-level "how much of this source is novel text" number that
    * complements the per-document `doc_repetition` filter (a source
    * whose trigram diversity collapses toward 0 is template/boilerplate
    * even when every individual document passes the repetition gate).
    *
    * Scale shape: two explode → two-level distinct aggregations
    * (partial per partition, final per source) plus one narrow count
    * pass; per-source output is O(sources). The trigram TOTAL needs no
    * explode at all — it is Σ max(n_tokens−2, 0) straight off the
    * token counts.
    */
  def ngramDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val base = docs
      .selectExpr("source", s"$tokensSpark as tokens")
      .selectExpr("source", "tokens", "size(tokens) as n_tokens")
    val counts = base.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"n_tokens").as("total_tokens"),
      sum(greatest($"n_tokens" - 2, lit(0))).as("total_trigrams"))
    val uni = base
      .select($"source", explode($"tokens").as("tok"))
      .groupBy($"source").agg(countDistinct($"tok").as("vocab_size"))
    // word_shingles is per-doc distinct; distinct-of-distinct across
    // docs is the corpus distinct set, so no duplicate-sensitive math
    val tri = docs
      .selectExpr("source", "explode(word_shingles(text, 3)) as sh")
      .groupBy($"source").agg(countDistinct($"sh").as("distinct_trigrams"))
    counts.join(uni, Seq("source")).join(tri, Seq("source"), "left_outer")
      .withColumn("distinct_trigrams", coalesce($"distinct_trigrams", lit(0L)))
      .selectExpr("source", "n_docs", "total_tokens", "vocab_size",
        "cast(vocab_size as double) / total_tokens as ttr",
        "total_trigrams", "distinct_trigrams",
        "case when total_trigrams = 0 then cast(0.0 as double) " +
          "else cast(distinct_trigrams as double) / total_trigrams end " +
          "as trigram_diversity")
      .orderBy($"source")
  }

  val ngramDiversityOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, $tokensDuck AS tokens FROM documents
       |), sized AS (
       |  SELECT doc_id, source, tokens, len(tokens) AS n_tokens FROM toks
       |), counts AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |         CAST(sum(greatest(n_tokens - 2, 0)) AS BIGINT)
       |           AS total_trigrams
       |  FROM sized GROUP BY 1
       |), uni AS (
       |  SELECT source, count(DISTINCT tok) AS vocab_size FROM (
       |    SELECT source, unnest(tokens) AS tok FROM sized) GROUP BY 1
       |), tri AS (
       |  SELECT source, count(DISTINCT sh) AS distinct_trigrams FROM (
       |    SELECT source, unnest(list_transform(range(0, len(tokens) - 2),
       |      gi -> array_to_string(tokens[gi + 1 : gi + 3], ' '))) AS sh
       |    FROM sized WHERE n_tokens >= 3) GROUP BY 1
       |)
       |SELECT c.source, c.n_docs, c.total_tokens, u.vocab_size,
       |       CAST(u.vocab_size AS DOUBLE) / c.total_tokens AS ttr,
       |       c.total_trigrams,
       |       CAST(COALESCE(t.distinct_trigrams, 0) AS BIGINT)
       |         AS distinct_trigrams,
       |       CASE WHEN c.total_trigrams = 0 THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(COALESCE(t.distinct_trigrams, 0) AS DOUBLE)
       |                 / c.total_trigrams END AS trigram_diversity
       |FROM counts c
       |JOIN uni u ON c.source = u.source
       |LEFT JOIN tri t ON c.source = t.source
       |ORDER BY c.source""".stripMargin

  /** Exact phrase search over a positional inverted index — the
    * retrieval primitive [[bm25Rank]]'s bag-of-words scoring can't
    * express (REF scope: the reference's URL/item hot-lists are
    * keyword-free; phrase search is the corpus-index companion op a
    * training-data engine needs for targeted contamination and
    * boilerplate probes).
    *
    * Plan shape — m-way POSTING-LIST equi-join, never a scan of
    * non-matching tokens past the first filter: positions are exploded
    * once, filtered to the phrase's terms immediately above the explode
    * (so the shuffle only ever carries phrase-term postings), and
    * localCheckpointed once (m consumers; the per-term filters differ
    * so Catalyst would otherwise recompute the explode subtree m
    * times). Each term i's postings are keyed by (doc_id, pos − i) and
    * equi-joined to the running match set on (doc_id, start) — the
    * offset is folded INTO the join key, so every stage is a hash
    * equi-join, and because all m−1 joins share the same key, the
    * first join's exchange partitioning is reused by the rest (one
    * shuffle of each posting list, no re-shuffle of the accumulator).
    * A same-key m-way join chain at 100 TB is |postings(w_i)|-bounded —
    * the classic intersection cost — with no step proportional to
    * corpus size.
    */
  private[graft] def checkPhrase(phrase: Seq[String]): Unit = {
    require(phrase.size >= 2, "phrase search needs at least two terms")
    require(phrase.forall(_.matches("[A-Za-z0-9_]+")),
      "phrase terms must be plain word tokens")
  }

  /** The m-way adjacency join over a `(doc_id, pos, token)` postings
    * frame — shared by the live query (postings from an inline explode)
    * and the serving path (postings from the stored partitioned index,
    * [[Pipelines.phraseSearchFrom]]).
    */
  private[graft] def phraseJoin(postings: DataFrame,
                                phrase: Seq[String]): DataFrame = {
    import postings.sparkSession.implicits._
    var cur = postings.where($"token" === phrase.head)
      .select($"doc_id", $"pos".cast("long").as("start"))
    for (i <- 1 until phrase.size)
      cur = cur.join(
        postings.where($"token" === phrase(i))
          .select($"doc_id", ($"pos".cast("long") - i).as("start")),
        Seq("doc_id", "start"))
    cur.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"), min($"start").cast("int").as("first_pos"))
      .orderBy($"doc_id")
  }

  def phraseSearch(spark: SparkSession, sfDir: String,
                   phrase: Seq[String] = Seq("table", "part")): DataFrame = {
    import spark.implicits._
    checkPhrase(phrase)
    val postings = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", s"$tokensSpark as tokens")
      .select($"doc_id", posexplode($"tokens").as(Seq("pos", "token")))
      .where(expr(inList("token", phrase.distinct)))
      .transform(BlockHygiene.checkpointTracked)
    phraseJoin(postings, phrase)
  }

  /** Streaming-safe NARROW form of the same search: a per-row adjacency
    * scan inside each document's token list — zero shuffles, so it
    * applies unchanged to a `readStream` source as the ingest-time
    * phrase monitor (append mode, stateless). Agrees with the posting-
    * join form row-for-row; the join form wins when the phrase is
    * selective over a stored index (it never reads non-phrase tokens),
    * the narrow form wins on a firehose where every document is scanned
    * once anyway.
    */
  def phraseHitsFrom(docs: DataFrame,
                     phrase: Seq[String] = Seq("table", "part")): DataFrame = {
    checkPhrase(phrase)
    val conds = phrase.zipWithIndex
      .map { case (w, i) => s"tokens[pi + $i] = '$w'" }.mkString(" AND ")
    docs.selectExpr("doc_id", s"$tokensSpark as tokens")
      .where(s"size(tokens) >= ${phrase.size}")
      .selectExpr("doc_id",
        s"filter(sequence(0, size(tokens) - ${phrase.size}), pi -> $conds) as ps")
      .where("size(ps) > 0")
      .selectExpr("doc_id", "cast(size(ps) as bigint) as n_hits",
        "cast(ps[0] as int) as first_pos")
  }

  /** DuckDB replay is per-row list arithmetic (adjacency checked inside
    * each document's token list) — same result set as the distributed
    * posting join; positions are 0-based in both engines.
    */
  def phraseSearchOracle(phrase: Seq[String] = Seq("table", "part")): String = {
    val m = phrase.size
    val conds = phrase.zipWithIndex
      .map { case (w, i) => s"tokens[pi + ${i + 1}] = '$w'" }.mkString(" AND ")
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), hits AS (
       |  SELECT doc_id,
       |         list_filter(range(0, len(tokens) - ${m - 1}),
       |                     pi -> $conds) AS ps
       |  FROM toks
       |)
       |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_hits,
       |       CAST(list_min(ps) AS INT) AS first_pos
       |FROM hits WHERE len(ps) > 0 ORDER BY doc_id""".stripMargin
  }

  /** Term-distribution drift per source vs the corpus-wide distribution
    * — the monitoring op run between corpus snapshots ("did src7's
    * token mix move?"). Emits the top-k (source, term) cells by
    * |p_source − p_corpus|, INCLUDING vanished terms (tf = 0 in a
    * source): the report lattice is sources × top-V vocabulary, left-
    * joined to the observed counts, so a term that disappeared from a
    * source surfaces with a negative delta instead of silently dropping
    * out of the report.
    *
    * Exactness: probabilities are integer micro-units
    * (`(1e6·tf) div total`) — associative BIGINT sums + truncating
    * division replay bit-identically in DuckDB; a double ratio would
    * be partition-order dependent in its low bits.
    *
    * Scale shape: one map-side-partial (source, token) count feeds all
    * four consumers via a single localCheckpoint; the vocabulary is
    * capped to the top-V corpus terms (deterministic (ctf desc, token)
    * cut — a TakeOrderedAndProject, output V rows regardless of true
    * vocab size) so the lattice is O(sources · V) and both dictionaries
    * broadcast. Nothing downstream of the first aggregate is
    * proportional to corpus volume.
    */
  def corpusDrift(spark: SparkSession, sfDir: String,
                  topV: Int = 1000, k: Int = 100): DataFrame =
    corpusDriftFinish(
      Tables.documents(spark, sfDir)
        .selectExpr("source", s"$tokensSpark as tokens")
        .select(col("source"), explode(col("tokens")).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf")),
      topV, k)

  /** The report math over a `(source, token, tf)` count frame — split
    * out so [[corpusDriftStream]] finishes each micro-batch's
    * incrementally-maintained counts exactly as the batch query does
    * (the mixturePlanFinish pattern: bounded state, identical finish).
    */
  private[graft] def corpusDriftFinish(stfIn: DataFrame,
                                       topV: Int = 1000,
                                       k: Int = 100): DataFrame = {
    val spark = stfIn.sparkSession
    import spark.implicits._
    // four consumers below
    val stf = BlockHygiene.checkpointTracked(stfIn)
    val stot = stf.groupBy($"source").agg(sum($"tf").as("stotal"))
    val ctf = stf.groupBy($"token").agg(sum($"tf").as("ctf"))
      .orderBy($"ctf".desc, $"token").limit(topV)
    val ctot = stf.agg(sum($"tf").as("ctotal"))
    // pre-filter the observed counts to the reported vocabulary so the
    // lattice's left join sees a (sources × V)-bounded build side — the
    // full stf is vocab-sized (long-tail tokens), not report-sized
    val stfTop = stf.join(broadcast(ctf.select($"token")), Seq("token"))
    stot.crossJoin(broadcast(ctf))
      .join(broadcast(stfTop), Seq("source", "token"), "left")
      .withColumn("tf", coalesce($"tf", lit(0L)))
      .crossJoin(broadcast(ctot))
      .withColumn("p_src_micro", expr("(1000000 * tf) div stotal"))
      .withColumn("p_corpus_micro", expr("(1000000 * ctf) div ctotal"))
      .withColumn("delta_micro", $"p_src_micro" - $"p_corpus_micro")
      .orderBy(abs($"delta_micro").desc, $"source", $"token")
      .limit(k)
      .select($"source", $"token", $"tf", $"p_src_micro",
        $"p_corpus_micro", $"delta_micro")
  }

  /** The drift report maintained LIVE over a document stream: the
    * (source, token) counts are complete-mode aggregation state —
    * bounded by sources × vocabulary, never by stream length — and
    * each micro-batch re-finishes the report snapshot with the exact
    * batch math ([[corpusDriftFinish]]). Overwrite per batch =
    * replay-idempotent (the eventsCompactForeachBatch contract).
    */
  def corpusDriftStream(docs: DataFrame, resultDir: String,
                        topV: Int = 1000, k: Int = 100) =
    docs.selectExpr("source", s"$tokensSpark as tokens")
      .select(col("source"), explode(col("tokens")).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf"))
      .writeStream.outputMode("complete")
      .foreachBatch { (stf: DataFrame, _: Long) =>
        // corpusDriftFinish localCheckpoints the count frame; release
        // the batch's blocks once the report is written so a long-
        // running stream doesn't leak one persisted RDD per batch
        BlockHygiene.releasingNewPersists(
            stf.sparkSession) {
          corpusDriftFinish(stf, topV, k)
            .write.mode("overwrite").parquet(resultDir)
        }
      }

  def corpusDriftOracle(topV: Int = 1000, k: Int = 100): String =
    s"""WITH toks AS (
       |  SELECT source, unnest($tokensDuck) AS token FROM documents
       |), stf AS (
       |  SELECT source, token, count(*) AS tf FROM toks GROUP BY 1, 2
       |), stot AS (
       |  SELECT source, CAST(sum(tf) AS BIGINT) AS stotal FROM stf GROUP BY 1
       |), ctf AS (
       |  SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM stf
       |  GROUP BY 1 ORDER BY ctf DESC, token LIMIT $topV
       |), ctot AS (
       |  SELECT CAST(sum(tf) AS BIGINT) AS ctotal FROM stf
       |), lat AS (
       |  SELECT st.source, c.token, COALESCE(s.tf, 0) AS tf,
       |         CAST((1000000 * COALESCE(s.tf, 0)) // st.stotal AS BIGINT)
       |           AS p_src_micro,
       |         CAST((1000000 * c.ctf) // ct.ctotal AS BIGINT)
       |           AS p_corpus_micro
       |  FROM stot st CROSS JOIN ctf c
       |  LEFT JOIN stf s ON s.source = st.source AND s.token = c.token
       |  CROSS JOIN ctot ct
       |)
       |SELECT source, token, CAST(tf AS BIGINT) AS tf, p_src_micro,
       |       p_corpus_micro, p_src_micro - p_corpus_micro AS delta_micro
       |FROM lat
       |ORDER BY abs(p_src_micro - p_corpus_micro) DESC, source, token
       |LIMIT $k""".stripMargin
}
