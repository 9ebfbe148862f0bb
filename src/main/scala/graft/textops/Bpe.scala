package graft.textops

import graft.Tables
import graft.textops.TextHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training over `documents` — the tokenizer
  * build step the rest of the corpus pipeline prepares for
  * (`vocab_topv` is the prep pass; this is the trainer itself).
  *
  * The classic Sennrich formulation: train on the WORD-FREQUENCY
  * table, not the raw corpus — each distinct word becomes its
  * character sequence, every adjacent symbol pair is counted weighted
  * by the word's corpus frequency, the most frequent pair merges into
  * a new symbol, and the merge is applied greedily left-to-right to
  * every word; repeat. Symbols are plain strings (a merge's new
  * symbol is the concatenation), so no id allocation is needed and
  * the merge table is directly human-readable.
  *
  * Scale shape: after the one corpus pass that builds word counts
  * (map-side partial aggregate), every round runs over the VOCABULARY
  * — rows = distinct words, work ∝ Σ word length — which is bounded
  * (Heaps' law) and corpus-size independent; pair stats partial-
  * aggregate map-side and the argmax is a 1-row TakeOrdered, never a
  * global sort of data rows. The merge apply is a narrow per-word
  * fold. Fixed round count (not convergence-tested) for the same
  * reason as the Lloyd trainer: a data-dependent stop would make the
  * DuckDB replay impossible; production raises `Rounds`, the shape is
  * unchanged.
  *
  * Engine-exactness: counts are exact BIGINTs; ties break
  * (count DESC, left ASC, right ASC); the greedy apply is a
  * sequential left fold with a carried "pending symbol" — expressed
  * with `aggregate` over a struct accumulator in Spark and the
  * list_prepend + list_reduce idiom (struct-typed elements) in
  * DuckDB, producing identical sequences by construction. "aaa" with
  * merge (a,a) → [aa, a]: a merged symbol never re-merges with the
  * following character inside the same round.
  */
object Bpe {

  /** Fixed merge rounds — the oracle unrolls the same count. */
  val Rounds = 4

  /** Greedy non-overlapping left-to-right merge, POSITIONALLY: a
    * sequential fold would be the obvious form, but DuckDB v1.0's
    * `list_reduce` silently drops list fields inside struct
    * accumulators (measured: the carried list resets every step), so
    * both engines instead compute WHICH boundaries merge from pair
    * positions alone. `m[i]` marks seq[i],seq[i+1] = (L,R); inside a
    * maximal run of consecutive matches (only possible when L = R,
    * e.g. "aaaa" + (a,a)) greedy keeps every other boundary starting
    * at the run head, i.e. boundary i applies iff
    * (i − last-non-match-before-i) is odd. Groups then renumber
    * positions (position p joins its left neighbor iff boundary p−1
    * applied) and each group concatenates into the new symbol.
    * O(len²) list ops per word — words are short and this runs over
    * the vocabulary, not the corpus. Spark lambda indexes are
    * 0-based, DuckDB's 1-based; both sides normalize to 1-based.
    *
    * Spark column chain: expects `seq`, `lft`, `rgt`, `n` = size(seq)
    * in scope; yields the merged sequence. */
  private def applyMergeSparkCols(df: DataFrame): DataFrame =
    df.withColumn("m", expr(
        "case when n < 2 then cast(array() as array<boolean>) " +
          "else transform(sequence(1, n - 1), mi -> " +
          "element_at(seq, mi) = lft and element_at(seq, mi + 1) = rgt) end"))
      .withColumn("lfl", expr(
        "transform(m, (mx, ki) -> case when mx then 0 else ki + 1 end)"))
      .withColumn("app", expr(
        "transform(m, (ax, ai) -> ax and " +
          "(((ai + 1) - array_max(slice(lfl, 1, ai + 1))) % 2 = 1))"))
      .withColumn("grp", expr(
        "transform(seq, (sx, pi) -> " +
          "(pi + 1) - size(filter(slice(app, 1, pi), bb -> bb)))"))
      .withColumn("seq", expr(
        "transform(sequence(1, element_at(grp, n)), gi -> " +
          "array_join(filter(transform(seq, (sy, qi) -> " +
          "case when element_at(grp, qi + 1) = gi then sy else null end), " +
          "ss -> ss is not null), ''))"))

  /** DuckDB: the same positional computation, staged as CTE chain
    * columns (list_transform's (x, i) index is 1-based). */
  private def applyMergeDuckCtes(r: Int, prevSeqs: String): String =
    s"""jx$r AS (
       |  SELECT s.word, s.freq, s.seq, len(s.seq) AS n, b.lft, b.rgt
       |  FROM $prevSeqs s CROSS JOIN best$r b
       |), mx$r AS (
       |  SELECT *, CASE WHEN n < 2 THEN CAST([] AS BOOLEAN[])
       |    ELSE list_transform(range(1, n), mi$r ->
       |      seq[mi$r] = lft AND seq[mi$r + 1] = rgt) END AS m
       |  FROM jx$r
       |), lx$r AS (
       |  SELECT *, list_transform(m, (mv$r, ki$r) ->
       |    CASE WHEN mv$r THEN 0 ELSE ki$r END) AS lfl
       |  FROM mx$r
       |), ax$r AS (
       |  SELECT *, list_transform(m, (av$r, ai$r) -> av$r AND
       |    ((ai$r - list_max(list_slice(lfl, 1, ai$r))) % 2 = 1)) AS app
       |  FROM lx$r
       |), gx$r AS (
       |  SELECT *, list_transform(seq, (sv$r, pi$r) ->
       |    pi$r - len(list_filter(list_slice(app, 1, pi$r - 1), bb$r -> bb$r))) AS grp
       |  FROM ax$r
       |), seqs$r AS (
       |  SELECT word, freq,
       |    list_transform(range(1, grp[n] + 1), gi$r ->
       |      list_reduce(list_filter(list_transform(seq, (sy$r, qi$r) ->
       |        CASE WHEN grp[qi$r] = gi$r THEN sy$r END),
       |        ss$r -> ss$r IS NOT NULL), (cx$r, cy$r) -> cx$r || cy$r)) AS seq
       |  FROM gx$r
       |)""".stripMargin

  /** One training round over `(word, freq, seq)`: returns the merge
    * row, the re-encoded vocabulary, and the freq-weighted symbol mass
    * of that vocabulary (computed in the checkpoint pass — round 17). */
  private def round(spark: SparkSession, seqs: DataFrame,
                           r: Int): (DataFrame, DataFrame, Long) = {
    import spark.implicits._
    val pairs = seqs
      .selectExpr("freq",
        "case when size(seq) < 2 then array() else sequence(1, size(seq) - 1) end as idx",
        "seq")
      .selectExpr("freq", "seq", "explode(idx) as i")
      .selectExpr("element_at(seq, i) as lft", "element_at(seq, i + 1) as rgt", "freq")
      .groupBy($"lft", $"rgt").agg(sum($"freq").as("pair_count"))
    val best = pairs
      .orderBy($"pair_count".desc, $"lft".asc, $"rgt".asc).limit(1)
      .selectExpr(s"$r as round", "lft", "rgt", "pair_count",
        "concat(lft, rgt) as new_symbol")
      .localCheckpoint()
    // freq·|seq| rides the checkpoint pass as a 4th column so the
    // round's n_symbols_after needs no second job (round 17 — same
    // fold the CC loop's labelSum got); the helper returns the sum and
    // the projection below drops the column again.
    val (appliedW, nAfter) = org.apache.spark.sql.execution.GraftCheckpoint
      .localCheckpointFreshStatsWithLongSum(
        applyMergeSparkCols(
            seqs.crossJoin(broadcast(best.select($"lft", $"rgt")))
              .withColumn("n", expr("size(seq)")))
          .select($"word", $"freq", $"seq",
            expr("freq * size(seq)").as("_nmass")),
        3)
    val applied = appliedW.select($"word", $"freq", $"seq")
    (best, applied, nAfter)
  }

  /** The trainer on an arbitrary `(word, freq)` table — exposed so the
    * spec can hand-check merges on a constructed vocabulary. Output:
    * one row per round `(round, left, right, pair_count, new_symbol,
    * n_symbols_after)` — the last column is the freq-weighted total
    * symbol count after the round's merge (the compression curve a
    * tokenizer build reports). */
  private[graft] def bpeTrainFrom(spark: SparkSession,
                                  words: DataFrame): DataFrame = {
    import spark.implicits._
    train(spark, words)._1
      .selectExpr("cast(round as int) as round", "lft as `left`", "rgt as `right`",
        "pair_count", "new_symbol", "n_symbols_after")
      .orderBy($"round")
  }

  /** Unpersist a localCheckpoint'd frame's backing RDD (the frame is
    * dead after this — lineage was truncated). */
  private def unpersistCk(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** The merge loop: runs the unrolled rounds; returns (merge rows,
    * final re-encoded vocabulary `(word, freq, seq)`). Measured
    * round-cost law (sf1, R=16 and R=64 — BASELINE.md "BPE merge-round
    * law (round 13)"): sec/round is
    * FLAT in R (0.2–0.4 s; late rounds cheapest as merges shrink the
    * seq arrays) and the loop holds O(1) vocab blocks at any R. At
    * this vocabulary grain the per-round cost is fixed job overhead
    * (4 jobs/round), not re-aggregation volume, so the incremental
    * pair-stat cache (affected_frac bound ~3 %, a ~30× volume cut)
    * would buy nothing — it starts paying only when the vocabulary is
    * large enough (≫10⁶ words) that per-round scan time dominates
    * scheduling.
    */
  private def train(spark: SparkSession,
                    words: DataFrame): (DataFrame, DataFrame) = {
    var seqs = words
      .selectExpr("word", "freq",
        "transform(sequence(1, length(word)), ci -> substring(word, ci, 1)) as seq")
      .localCheckpoint()
    val rows = (1 to Rounds).map { r =>
      // n_symbols_after arrives WITH the round (computed inside the
      // vocabulary checkpoint's materialization pass — no second job,
      // round 17; an empty vocabulary folds to 0, matching the old
      // null-guarded sum) and the checkpoint is eager, so the previous
      // round's vocabulary block can be released here: the loop holds
      // O(1) vocab blocks instead of O(R) — at the R=4 serving grain a
      // nicety, at the R=64 law-measurement grain (BASELINE.md "BPE
      // merge-round law") the difference between a bounded loop and an
      // unbounded block leak.
      val (best, applied, nAfter) = round(spark, seqs, r)
      unpersistCk(seqs)
      seqs = applied
      best.withColumn("n_symbols_after", lit(nAfter))
    }
    (rows.reduce(_ union _), seqs)
  }

  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.documents(spark, sfDir)
      .selectExpr(s"explode($tokensSpark) as word")
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
    bpeTrainFrom(spark, words)
  }

  /** Encode the corpus with the trained merges — the tokenizer's
    * apply side. Every word's encoded length is computed ONCE on the
    * vocabulary (the training rounds already produced the final
    * symbol sequences); documents then pay one broadcast-sized join
    * of their token stream against the `(word, encoded length)`
    * dictionary — the corpus is never re-folded per merge. Output per
    * doc: raw token count, BPE symbol count, token character mass,
    * and the compression ratio a tokenizer report quotes.
    */
  /** The `(word, n_sym)` encoding dictionary a trained tokenizer
    * serves with — broadcast-sized (vocabulary grain). */
  def encodeDict(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.documents(spark, sfDir)
      .selectExpr(s"explode($tokensSpark) as word")
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
    train(spark, words)._2.selectExpr("word", "size(seq) as n_sym")
  }

  /** Encode an arbitrary `(doc_id, text)` relation against a trained
    * dictionary — stream-safe (explode + broadcast join + per-doc
    * aggregate; complete/update mode on a stream), the same shape as
    * [[TextStats.oovRateFrom]]. Unknown words (not in the training
    * vocabulary) fall back to character count — what a real tokenizer
    * does with OOV input. */
  def bpeEncodeFrom(docs: DataFrame, enc: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", s"explode($tokensSpark) as word")
      .join(broadcast(enc), Seq("word"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("n_sym"), length(col("word")).cast("long")))
          .as("n_symbols"),
        sum(length(col("word"))).cast("long").as("n_chars_tok"))
      .selectExpr("doc_id", "n_tokens", "n_symbols", "n_chars_tok",
        "cast(n_symbols as double) / n_chars_tok as compression")

  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bpeEncodeFrom(Tables.documents(spark, sfDir).select($"doc_id", $"text"),
        encodeDict(spark, sfDir))
      .orderBy($"doc_id")
  }

  /** Shared DuckDB CTE chain: tokenization → word counts → seqs0 →
    * the unrolled rounds (ending in `seqs{Rounds}` and per-round
    * `best\$r`/`after\$r`). */
  private lazy val bpeCtes: String = {
    def roundCtes(r: Int, prevSeqs: String): String =
      s"""pairs$r AS (
         |  SELECT s.seq[g$r.i] AS lft, s.seq[g$r.i + 1] AS rgt,
         |         CAST(sum(s.freq) AS BIGINT) AS pair_count
         |  FROM $prevSeqs s, unnest(range(1, len(s.seq))) AS g$r(i)
         |  GROUP BY 1, 2
         |), best$r AS (
         |  SELECT $r AS round, lft, rgt, pair_count, lft || rgt AS new_symbol
         |  FROM pairs$r ORDER BY pair_count DESC, lft ASC, rgt ASC LIMIT 1
         |), ${applyMergeDuckCtes(r, prevSeqs)}, after$r AS (
         |  SELECT CAST(sum(freq * len(seq)) AS BIGINT) AS n_symbols_after FROM seqs$r
         |)""".stripMargin
    val chain = (1 to Rounds)
      .map(r => roundCtes(r, if (r == 1) "seqs0" else s"seqs${r - 1}"))
      .mkString(",\n")
    s"""toks AS (
       |  SELECT doc_id, $tokensDuck AS tokens FROM documents
       |), wx AS (
       |  SELECT unnest(tokens) AS word FROM toks
       |), w AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM wx GROUP BY word
       |), seqs0 AS (
       |  SELECT word, freq,
       |         list_transform(range(1, length(word) + 1), ci -> word[ci]) AS seq
       |  FROM w
       |),
       |$chain""".stripMargin
  }

  lazy val bpeTrainOracle: String = {
    val unions = (1 to Rounds)
      .map(r => s"SELECT b.round, b.lft AS \"left\", b.rgt AS \"right\", " +
        s"b.pair_count, b.new_symbol, a.n_symbols_after " +
        s"FROM best$r b CROSS JOIN after$r a")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeCtes
       |SELECT CAST(round AS INT) AS round, "left", "right", pair_count,
       |       new_symbol, n_symbols_after
       |FROM ($unions) ORDER BY round""".stripMargin
  }

  lazy val bpeEncodeOracle: String =
    s"""WITH $bpeCtes, enc AS (
       |  SELECT word, len(seq) AS n_sym FROM seqs$Rounds
       |), dt AS (
       |  SELECT doc_id, unnest(tokens) AS word FROM toks
       |)
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(e.n_sym) AS BIGINT) AS n_symbols,
       |       CAST(sum(length(d.word)) AS BIGINT) AS n_chars_tok,
       |       CAST(CAST(sum(e.n_sym) AS BIGINT) AS DOUBLE)
       |         / CAST(sum(length(d.word)) AS BIGINT) AS compression
       |FROM dt d JOIN enc e ON d.word = e.word
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
}
