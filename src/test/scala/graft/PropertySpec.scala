package graft

import graft.functions.GraftExpressions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Randomized properties over generated corpora — things the fixed
  * testdata can't probe (degenerate docs, adversarial vocab density,
  * optimization ≡ naive equivalences).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** seeded manual sampling (scalatestplus-scalacheck is not in the
    * offline dependency cache; raw scalacheck is)
    */
  private def forAll[T](gen: Gen[T], n: Int = 5)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(42L + i)).getOrElse(
        fail(s"generator exhausted at sample $i")))
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val wordGen = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
    "the", "a", "of", "scan", "join", "sort")
  private val docGen = Gen.chooseNum(3, 40).flatMap(n => Gen.listOfN(n, wordGen))
  private val corpusGen = Gen.chooseNum(5, 40)
    .flatMap(n => Gen.listOfN(n, docGen))

  /** Naive exact all-pairs Jaccard — the spec the prefix filter must
    * reproduce exactly.
    */
  private def naiveJaccard(docs: Seq[Seq[String]], t: Double): Set[(Long, Long, Int)] = {
    val sets = docs.zipWithIndex.collect {
      case (ws, i) if ws.size >= 3 =>
        i.toLong -> ws.sliding(3).map(_.mkString(" ")).toSet
    }
    (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      inter = (a & b).size
      jac = inter.toDouble / (a.size + b.size - inter)
      if jac >= t
    } yield (i, j, inter)).toSet
  }

  test("prefix-filtered ngramJaccard == naive all-pairs on random corpora") {
    GraftExpressions.register(spark)
    forAll(corpusGen) { corpus =>
      val dir = java.nio.file.Files.createTempDirectory("graftprop").toString
      corpus.zipWithIndex
        .map { case (ws, i) =>
          (i.toLong, ws.mkString(" "), "en", "src0", ws.mkString(" ").length.toLong)
        }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.textops.Dedup.ngramJaccard(spark, dir)
        .select($"doc1", $"doc2", $"inter_cnt")
        .as[(Long, Long, Int)].collect().toSet
      val want = naiveJaccard(corpus, 0.2)
      assert(got == want, s"corpus=${corpus.take(3)}…")
    }
  }

  test("KmvAgg reduce/merge algebra == sorted-distinct-take-K for arbitrary splits") {
    import graft.functions.KmvAgg
    val k = 8
    val agg = new KmvAgg(k)
    val hashGen = Gen.listOf(Gen.chooseNum(0L, 40L)) // dense range forces duplicates
    val gen = for { hs <- hashGen; cut <- Gen.chooseNum(0, math.max(hs.size, 1)) }
      yield (hs, math.min(cut, hs.size))
    forAll(gen, n = 25) { case (hs, cut) =>
      val want = hs.distinct.sorted.take(k)
      val (l, r) = hs.splitAt(cut)
      val lBuf = l.foldLeft(agg.zero)(agg.reduce)
      val rBuf = r.foldLeft(agg.zero)(agg.reduce)
      // partial folds are each the k-min distinct of their slice
      assert(lBuf.toSeq == l.distinct.sorted.take(k))
      assert(rBuf.toSeq == r.distinct.sorted.take(k))
      // merge of partials == fold of the whole, both ways (commutative)
      assert(agg.merge(lBuf, rBuf).toSeq == want)
      assert(agg.merge(rBuf, lBuf).toSeq == want)
    }
  }

  test("poly_hash native == HOF char-fold for arbitrary ASCII strings") {
    val asciiGen = Gen.listOf(Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString)
    forAll(Gen.listOfN(50, asciiGen)) { strs =>
      val df = strs.toDF("s")
      val both = df.selectExpr(
        "poly_hash(s) as native",
        s"${graft.textops.TextHash.phSpark("s", "t")} as hof")
      assert(both.where($"native" =!= $"hof").isEmpty)
    }
  }

  test("phScala driver replica == poly_hash expression, including non-ASCII") {
    // phScala computes partition literals for the phrase-search index
    // prune WITHOUT a Spark job — it must replicate the native
    // expression's UTF-8 BYTE fold for all inputs, not just ASCII
    val gen = Gen.listOf(Gen.oneOf(
      Gen.chooseNum(32, 126).map(_.toChar),          // ASCII
      Gen.oneOf('é', 'ü', 'ß', 'щ', '中', '文'))).map(_.mkString)
    forAll(Gen.listOfN(40, gen)) { strs =>
      // include a surrogate-pair emoji (4-byte UTF-8) explicitly
      val all = strs :+ "naïve" :+ "中文词" :+ new String(Character.toChars(0x1F642)) :+ ""
      val df = all.toDF("s")
      val native = df.selectExpr("s", "poly_hash(s) as h")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      all.foreach { s =>
        assert(graft.textops.TextHash.phScala(s) == native(s),
          s"phScala diverges from poly_hash on ${s.getBytes("UTF-8").toSeq}")
      }
    }
  }

  test("window_hashes native == HOF substring/char-fold for arbitrary ASCII strings") {
    val asciiGen = Gen.listOf(Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString)
    forAll(Gen.listOfN(30, asciiGen)) { strs =>
      val df = strs.filter(_.nonEmpty).toDF("s")
      val both = df.selectExpr(
        "window_hashes(s, 16) as native",
        // HOF replay: hash of substring(i, 16) for each of the
        // max(len-15, 1) windows — substring truncates at the end,
        // matching the native tail-window semantics
        s"""transform(sequence(1, greatest(length(s) - 15, 1)), whi ->
           |  ${graft.textops.TextHash.phSpark("substring(s, whi, 16)", "wh")}) as hof"""
          .stripMargin)
      assert(both.where($"native" =!= $"hof").isEmpty)
    }
  }

  test("winnow_hashes native == HOF local-min selection over window_hashes") {
    val asciiGen = Gen.listOf(Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString)
    forAll(Gen.listOfN(30, asciiGen)) { strs =>
      val df = strs.filter(_.nonEmpty).toDF("s")
      val both = df
        .selectExpr("s", "window_hashes(s, 24) as f")
        .selectExpr(
          "winnow_hashes(s, 24, 7) as native",
          """array_distinct(filter(transform(sequence(1, size(f)), wi ->
            |  case when element_at(f, wi) = array_min(slice(f,
            |         greatest(wi - 7, 1),
            |         least(wi + 7, size(f)) - greatest(wi - 7, 1) + 1))
            |       then element_at(f, wi) end),
            |  sv -> sv is not null)) as hof""".stripMargin)
      assert(both.where($"native" =!= $"hof").isEmpty)
    }
  }

  test("simhash pigeonhole candidates == brute-force hamming<=3 on random signatures") {
    // the 4x15-bit block join must lose NO pair at hamming <= 3
    // (pigeonhole: <=3 flips over 4 blocks leave one block intact) and
    // the final filter makes it exact — so the distributed candidate
    // path must EQUAL the all-pairs reference on any signature set
    val rnd = new scala.util.Random(7)
    val mask60 = (1L << 60) - 1
    val base = Seq.fill(120)(rnd.nextLong() & mask60)
    def flip(s: Long, n: Int): Long =
      (0 until n).foldLeft(s)((acc, _) => acc ^ (1L << rnd.nextInt(60)))
    // engineered near pairs at 1-4 flips (4 may still land <=3 by
    // re-flipping the same bit — the reference computes the truth)
    val sigs = (base ++ base.take(40).map(s => flip(s, 1 + rnd.nextInt(4))))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val got = graft.textops.Dedup.simhashPairsFrom(sigs.toDF("doc_id", "simhash"))
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    val want = (for {
      (a, ia) <- sigs; (b, ib) <- sigs
      if a < b && java.lang.Long.bitCount(ia ^ ib) <= 3
    } yield (a, b)).toSet
    assert(got == want, s"missing: ${want -- got}; extra: ${got -- want}")
  }

  test("dedup_substring detects planted verbatim runs and nothing else") {
    // detection-power test (the DuckDB gate only pins engine parity):
    // two random docs share one injected 10-word sentence at
    // DIFFERENT offsets — shift-invariant winnowing must select the
    // same fingerprints from the run in both docs
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 200).map(i => f"w$i%03dx")
    def salad(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val run = "the quick brown fox jumps over the lazy sleeping dog"
    val docs = (0L until 20L).map { id =>
      val words = salad(80 + rnd.nextInt(40))
      val text =
        if (id == 3L || id == 11L) {
          val at = 10 + rnd.nextInt(40)
          (words.take(at) :+ run) ++ words.drop(at)
        } else words
      (id, text.mkString(" "))
    }
    val pairs = graft.textops.Dedup
      .dedupSubstringFrom(docs.toDF("doc_id", "text"),
        k = 24, radius = 7, minShared = 2, maxDf = 10)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 11L)),
      s"expected exactly the planted pair (3,11), got $pairs")
  }

  test("dedup_containment catches the subset dup that Jaccard structurally misses") {
    GraftExpressions.register(spark)
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 300).map(i => f"w$i%03dq")
    def salad(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    // doc 3 = the quote alone; doc 7 = the quote pasted inside 120
    // tokens of salad → containment(3→7) = 1.0, Jaccard ≈ 10/118 ≈ 0.08
    val docs = (0L until 12L).map { id =>
      val text =
        if (id == 3L) quote
        else if (id == 7L) salad(60) + " " + quote + " " + salad(60)
        else salad(80)
      (id, text, "en", "src0", text.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graftcont").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cont = graft.textops.Dedup.dedupContainment(spark, dir)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    assert(cont.contains((3L, 7L)), s"containment missed the planted quote: $cont")
    assert(!cont.contains((7L, 3L)), "containment is directional — 7 is not inside 3")
    val jac = graft.textops.Dedup.ngramJaccard(spark, dir)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    assert(!jac.contains((3L, 7L)) && !jac.contains((7L, 3L)),
      "planted pair should sit below the Jaccard threshold — the tier exists for it")
  }

  test("positional-filtered dedupContainment == naive all-pairs containment on random corpora") {
    // round 18: the candidate join gained exact length + positional
    // prunes (same family as the PPJoin filters); this pins the full
    // filtered pipeline against the brute-force directional spec on
    // adversarially dense corpora, so a bound with the inequality the
    // wrong way round cannot hide behind the fixed testdata
    GraftExpressions.register(spark)
    val t = 0.8
    forAll(corpusGen) { corpus =>
      val dir = java.nio.file.Files.createTempDirectory("graftcontprop").toString
      corpus.zipWithIndex
        .map { case (ws, i) =>
          (i.toLong, ws.mkString(" "), "en", "src0", ws.mkString(" ").length.toLong)
        }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.textops.Dedup.dedupContainment(spark, dir, t)
        .select($"doc1", $"doc2", $"inter_cnt")
        .as[(Long, Long, Int)].collect().toSet
      val sets = corpus.zipWithIndex.collect {
        case (ws, i) if ws.size >= 3 =>
          i.toLong -> ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val want = (for {
        (i, a) <- sets; (j, b) <- sets if i != j
        inter = (a & b).size
        if inter.toDouble / a.size >= t
      } yield (i, j, inter)).toSet
      assert(got == want, s"corpus=${corpus.take(3)}…")
    }
  }

  test("word_shingles native == HOF split/slice/concat/distinct chain") {
    // mixed whitespace, leading/trailing runs, repeated shingles,
    // sub-3-token degenerates
    val tokGen = Gen.oneOf("aa", "bb", "cc", "dd", "x")
    val sepGen = Gen.oneOf(" ", "  ", "\t", " \n ")
    val textGen = for {
      n <- Gen.chooseNum(0, 12)
      toks <- Gen.listOfN(n, tokGen)
      seps <- Gen.listOfN(n + 1, sepGen)
    } yield seps.zipAll(toks.map(Some(_)), " ", None)
      .map { case (s, t) => s + t.getOrElse("") }.mkString
    GraftExpressions.register(spark)
    forAll(Gen.listOfN(60, textGen)) { strs =>
      val df = strs.toDF("text")
      val both = df
        .selectExpr("text", s"${graft.textops.TextHash.tokensSpark} as toks")
        .selectExpr(
          "word_shingles(text, 3) as native",
          // <3 tokens must be the empty array (sequence(0, size-3)
          // would run DESCENDING there — the query pre-filters; the
          // native form returns empty)
          """case when size(toks) < 3 then cast(array() as array<string>)
            |else array_distinct(transform(sequence(0, size(toks) - 3), gi ->
            |  concat_ws(' ', slice(toks, gi + 1, 3)))) end as hof""".stripMargin)
      assert(both.where(expr("native != hof")).isEmpty)
    }
  }

  test("token_hashes60 / shingle_hashes native == HOF chains") {
    import graft.textops.TextHash
    val tokGen = Gen.oneOf("aa", "bb", "cc", "dd", "x", "longword", "zz9")
    val sepGen = Gen.oneOf(" ", "  ", "\t", " \n ")
    val textGen = for {
      n <- Gen.chooseNum(0, 12)
      toks <- Gen.listOfN(n, tokGen)
      seps <- Gen.listOfN(n + 1, sepGen)
    } yield seps.zipAll(toks.map(Some(_)), " ", None)
      .map { case (s, t) => s + t.getOrElse("") }.mkString
    GraftExpressions.register(spark)
    forAll(Gen.listOfN(60, textGen)) { strs =>
      val SH = TextHash.ShingleMult
      val P = TextHash.P
      val both = strs.toDF("text")
        .selectExpr("text", s"${TextHash.tokensSpark} as toks")
        .selectExpr(
          "token_hashes60(text) as th_native",
          s"transform(toks, tk -> ${TextHash.tokenHash60Spark("tk")}) as th_hof",
          "shingle_hashes(text) as sh_native",
          s"""case when size(toks) < 3 then cast(array() as array<bigint>)
             |else transform(sequence(0, size(toks) - 3), sj ->
             |  ((poly_hash(element_at(toks, sj + 1)) * $SH
             |    + poly_hash(element_at(toks, sj + 2))) % $P
             |   * $SH + poly_hash(element_at(toks, sj + 3))) % $P)
             |end as sh_hof""".stripMargin)
      assert(both.where(expr("th_native != th_hof or sh_native != sh_hof")).isEmpty)
    }
  }

  test("CEP compilers == in-memory reference matcher on random sequences") {
    import graft.cep.{Pattern, Step}
    // random keyed event sequences over 3 types, unique (key, ts)
    val seqGen = for {
      nKeys <- Gen.chooseNum(1, 4)
      evs <- Gen.listOfN(nKeys * 12, Gen.zip(
        Gen.chooseNum(1L, nKeys.toLong), Gen.oneOf("a", "b", "c")))
    } yield evs.zipWithIndex.map { case ((k, t), i) =>
      (k, (i * 7 + k).toLong * 1000000, i.toLong + 100, t) // (key, ts_us, ord, type)
    }
    val withinUs = 40L * 1000000

    // independent strict-next spec: anchor every position, demand
    // adjacency
    def refStrict(evs: Seq[(Long, Long, Long, String)], pat: Seq[String]) =
      evs.groupBy(_._1).toSeq.flatMap { case (k, es) =>
        val s = es.sortBy(e => (e._2, e._3))
        s.indices.collect {
          case i if i + pat.size <= s.size &&
            pat.indices.forall(j => s(i + j)._4 == pat(j)) &&
            s(i + pat.size - 1)._2 - s(i)._2 <= withinUs =>
            (k, s(i)._3, s(i + pat.size - 1)._3)
        }
      }.toSet

    // independent relaxed spec: bind the earliest following occurrence
    // of each next step (strictly later ts)
    def refRelaxed(evs: Seq[(Long, Long, Long, String)], pat: Seq[String]) =
      evs.groupBy(_._1).toSeq.flatMap { case (k, es) =>
        val s = es.sortBy(e => (e._2, e._3))
        s.filter(_._4 == pat.head).flatMap { start =>
          var cur = start
          val ok = pat.tail.forall { step =>
            s.find(e => e._2 > cur._2 && e._4 == step &&
              e._2 - start._2 <= withinUs) match {
              case Some(e) => cur = e; true
              case None => false
            }
          }
          if (ok) Some((k, start._3, cur._3)) else None
        }
      }.toSet

    forAll(seqGen, n = 4) { evs =>
      val df = evs.toDF("user_id", "ts_us", "event_id", "event_type")
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
      val pat = Seq("a", "b", "c")
      def steps = pat.map(t => Step(t, col("event_type") === t))
      val gotStrict = Pattern(steps, withinUs)
        .compileBatch(df, col("user_id"), col("ts"), col("event_id"))
        .select(col("key"), col("start_event"), col("end_event"))
        .as[(Long, Long, Long)].collect().toSet
      assert(gotStrict == refStrict(evs, pat), s"strict diverged on $evs")
      val gotRelaxed = Pattern(steps, withinUs, strict = false)
        .compileBatch(df, col("user_id"), col("ts"), col("event_id"))
        .select(col("key"), col("start_event"), col("end_event"))
        .as[(Long, Long, Long)].collect().toSet
      assert(gotRelaxed == refRelaxed(evs, pat), s"relaxed diverged on $evs")
      // absence: a-not-followed-by-b == the complement of binding b
      val gotAbsent = Pattern(Seq(Step("a", col("event_type") === "a"),
          Step("b", col("event_type") === "b")), withinUs, strict = false)
        .compileBatchAbsence(df, col("user_id"), col("ts"), col("event_id"))
        .select(col("key"), col("event")).as[(Long, Long)].collect().toSet
      val wantAbsent = evs.filter(_._4 == "a").collect {
        case (k, ts, ord, _) if !evs.exists(e =>
          e._1 == k && e._4 == "b" && e._2 > ts && e._2 - ts <= withinUs) =>
          (k, ord)
      }.toSet
      assert(gotAbsent == wantAbsent, s"absence diverged on $evs")
    }
  }

  test("vec_dot native == HOF fold for arbitrary double vectors") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-1000, 1000).map(_ / 7.0))
    forAll(Gen.listOfN(20, vecGen)) { vecs =>
      val df = vecs.map(v => (v, v.reverse)).toDF("a", "b")
      val both = df.selectExpr(
        "vec_dot(a, b) as native",
        "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 as double), (p, q) -> p + q) as hof")
      // identical fold order → bit-identical, not approximately equal
      assert(both.where($"native" =!= $"hof").isEmpty)
    }
  }

  test("vec_dist2 native == HOF fold for arbitrary bigint vectors") {
    val vecGen = Gen.listOfN(30, Gen.chooseNum(-100000L, 100000L))
    forAll(Gen.listOfN(20, vecGen)) { vecs =>
      val df = vecs.map(v => (v, v.reverse)).toDF("a", "b")
      val both = df.selectExpr(
        "vec_dist2(a, b) as native",
        "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
          "cast(0 as bigint), (p, q) -> p + q) as hof")
      // integer math: any fold order is the same value — exact equality
      assert(both.where($"native" =!= $"hof").isEmpty)
    }
  }

  test("vec_dist2 malformed-input contract == the HOF fold (NULL on length mismatch / null element)") {
    // unequal lengths: zip_with pads with null, the fold absorbs it →
    // NULL; the native form must agree, not silently truncate
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L)),
      (Seq(1L), Seq(1L, 2L, 3L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(4L, 5L), Seq(4L, 5L))).toDF("a", "b")
    val both = df.selectExpr(
      "vec_dist2(a, b) as native",
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
        "cast(0 as bigint), (p, q) -> p + q) as hof")
    assert(both.where(
      ($"native".isNull && $"hof".isNotNull) ||
        ($"native".isNotNull && $"hof".isNull) ||
        ($"native" =!= $"hof")).isEmpty,
      "native vec_dist2 diverged from the HOF fold on malformed input")
    // a null ELEMENT (containsNull schema) propagates NULL instead of
    // reading an arbitrary value
    val r = spark.sql(
      "select vec_dist2(array(1L, cast(null as bigint)), array(1L, 2L)) as n1, " +
        "vec_dist2(array(1L, 3L), array(1L, 2L)) as n2").head()
    assert(r.isNullAt(0), "null element must yield NULL")
    assert(r.getLong(1) == 1L)
  }

  test("ivf_top_cells == the BNLJ + rank window it replaced (exact ties, full ordering)") {
    import org.apache.spark.sql.expressions.Window
    val d = 8
    val rnd = new scala.util.Random(42)
    def vec() = Seq.fill(d)(rnd.nextDouble() * 2 - 1)
    val cents0 = (0L until 7L).map(i => (i, vec()))
    // duplicate centroid 3 under id 7: every vector gets a bit-exact
    // csim TIE that only the cent_id tie-break resolves
    val cents = cents0 :+ ((7L, cents0(3)._2))
    // NB no zero vector: nrm = 0 makes the REFERENCE window form throw
    // under ANSI (double divide-by-zero) — the engine's contract is
    // nonzero vectors (generator invariant), so the comparison runs on
    // the domain both forms define
    val vecs = (100L until 140L).map(i => (i, vec()))
    val e = vecs.toDF("vec_id", "v0")
      .selectExpr("vec_id", "cast(v0 as array<double>) as v")
      .selectExpr("vec_id", "v", "sqrt(vec_dot(v, v)) as nrm")
    val cent = cents.toDF("cent_id", "centv0")
      .selectExpr("cent_id", "cast(centv0 as array<double>) as centv")
      .selectExpr("cent_id", "centv",
        "sqrt(vec_dot(centv, centv)) as centn")
    val np = 5
    val want = e.join(broadcast(cent), expr("true"))
      .withColumn("csim", expr("vec_dot(v, centv) / (nrm * centn)"))
      .withColumn("crk", row_number().over(Window.partitionBy($"vec_id")
        .orderBy($"csim".desc, $"cent_id".asc)))
      .where($"crk" <= np)
      .select($"vec_id", $"cent_id", $"crk", $"csim")
      .as[(Long, Long, Int, Double)].collect().toSet
    val flat = cent.groupBy()
      .agg(collect_list(struct($"cent_id", $"centv", $"centn")).as("cs"))
      .selectExpr("array_sort(cs) as cs")
      .selectExpr("transform(cs, x -> x.cent_id) as cids",
        "flatten(transform(cs, x -> x.centv)) as cflat",
        "transform(cs, x -> x.centn) as cnorms")
    val got = e.crossJoin(broadcast(flat))
      .selectExpr("vec_id",
        s"posexplode(ivf_top_cells(v, nrm, cflat, cnorms, cids, $np)) " +
          "as (p0, tc)")
      .selectExpr("vec_id", "tc.cell", "cast(p0 + 1 as int) as crk",
        "tc.csim")
      .as[(Long, Long, Int, Double)].collect().toSet
    // boxed tuple equality: NaN == NaN holds, so the zero-vector rows
    // compare too — bit-identical or fail
    assert(got == want, "fused cell ranking diverged from the window form")
    // shape guard: a flat matrix built for the wrong d fails loudly
    val ex = intercept[Exception] {
      e.crossJoin(broadcast(flat))
        .selectExpr(
          "ivf_top_cells(slice(v, 1, 4), nrm, cflat, cnorms, cids, 2)")
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("vecMicroSum aggregator == exploded (cell, dim) micro-sum formulation, bit-for-bit") {
    // the Lloyd re-center rewrite must reproduce the exploded
    // groupBy(cell, dim) means exactly (integer micro-sums are
    // order-free; the mean double arithmetic is the identical
    // expression in the identical dim order)
    val dGen = Gen.chooseNum(1, 6)
    forAll(dGen.flatMap(d => Gen.listOfN(20,
        Gen.zip(Gen.chooseNum(0L, 3L),
          Gen.listOfN(d, Gen.chooseNum(-2.0, 2.0)))))) { rows =>
      val df = rows.toDF("cell", "v")
        .selectExpr("cell", "cast(v as array<double>) as v")
      val got = df.groupBy($"cell")
        .agg(graft.functions.VecMicroSumAggregator.vecMicroSum($"v")
          .as("st"))
        .selectExpr("cell",
          "transform(slice(st, 2, size(st) - 1), " +
            "s -> cast(s as double) / st[0] / 1000000.0) as newv")
        .as[(Long, Seq[Double])].collect().toMap
      val want = df.select($"cell", posexplode($"v"))
        .selectExpr("cell", "cast(pos as int) as dim",
          "cast(floor(col * 1000000) as bigint) as micro")
        .groupBy($"cell", $"dim")
        .agg(sum($"micro").as("sq"), count(lit(1)).as("cnt"))
        .selectExpr("cell", "dim",
          "cast(sq as double) / cnt / 1000000.0 as m")
        .groupBy($"cell")
        .agg(expr(
          "transform(array_sort(collect_list(struct(dim, m))), cs -> cs.m)")
          .as("newv"))
        .as[(Long, Seq[Double])].collect().toMap
      assert(got == want, "mergeable micro-sum diverged from the explode form")
    }
  }

  test("vecMicroSum guards: ragged dims and null vectors fail fast — an explicit contract change vs the exploded form") {
    // the exploded groupBy(cell, dim) form this Aggregator replaced
    // would have silently computed per-dim means over ragged per-cell
    // vectors; the mergeable form fails fast instead (r16 ADVICE: pin
    // the intentional contract so it can't regress to an overrun)
    val agg = new graft.functions.VecMicroSumAgg
    val b2 = agg.reduce(agg.zero, Seq(1.0, 2.0))
    intercept[IllegalArgumentException] { agg.reduce(b2, Seq(1.0, 2.0, 3.0)) }
    intercept[IllegalArgumentException] { agg.reduce(b2, Seq(1.0)) }
    intercept[IllegalArgumentException] { agg.reduce(agg.zero, null) }
    // a d=0 first vector allocates a 1-slot state no d>0 vector may widen
    val b0 = agg.reduce(agg.zero, Seq.empty[Double])
    intercept[IllegalArgumentException] { agg.reduce(b0, Seq(1.0)) }
  }

  test("moment aggregator guards: null vector and post-empty dimension change fail fast, not buffer-overrun") {
    val agg = new graft.functions.MomentAgg
    val b0 = agg.reduce(agg.zero, Seq.empty[Long])
    // a d=0 state must not admit a d>0 vector into its 2-slot buffer
    intercept[IllegalArgumentException] { agg.reduce(b0, Seq(1L, 2L)) }
    intercept[IllegalArgumentException] { agg.reduce(agg.zero, null) }
  }

  test("moment aggregator == explode pair-moment formulation for arbitrary int vectors") {
    // the spectrum tail's mergeable-state rewrite must reproduce the
    // explode+groupBy form it replaced bit-for-bit (integer sums are
    // order-free; the cov double arithmetic is the identical expression)
    val dGen = Gen.chooseNum(1, 6)
    forAll(dGen.flatMap(d =>
        Gen.listOfN(12, Gen.listOfN(d, Gen.chooseNum(-500L, 500L))))) { vecs =>
      val withM = vecs.toDF("m")
      val got = graft.textops.Similarity.momentAgg(withM)
        .collect().toSeq.map(_.toSeq)
      val want = withM
        .selectExpr("explode(flatten(transform(m, (xi, i) -> " +
          "transform(slice(m, i + 1, size(m) - i), (xj, j) -> " +
          "named_struct('di', i, 'dj', i + j, 'p', xi * xj, " +
          "'xi', xi, 'xj', xj))))) as e")
        .groupBy($"e.di".as("dim_i"), $"e.dj".as("dim_j"))
        .agg(count(lit(1)).as("n"), sum($"e.p").as("sxy"),
          sum($"e.xi").as("sxi"), sum($"e.xj").as("sxj"))
        .selectExpr("cast(dim_i as int) as dim_i",
          "cast(dim_j as int) as dim_j",
          "n", "sxy", "sxi", "sxj",
          "(cast(sxy as double) / n - (cast(sxi as double) / n) " +
            "* (cast(sxj as double) / n)) / 1000000.0 / 1000000.0 as cov")
        .orderBy($"dim_i", $"dim_j")
        .collect().toSeq.map(_.toSeq)
      assert(got == want, s"moment state diverged from the explode form")
    }
  }

  test("srp_sig native == per-bit vec_dot case-when sum for arbitrary vectors") {
    // planes flattened row-major (bits × d); strict > 0 sign rule must
    // match the per-bit formulation bit-for-bit (same left-fold dots)
    val d = 8
    val vecGen = Gen.listOfN(d, Gen.chooseNum(-1000, 1000).map(_ / 7.0))
    val bitsGen = Gen.chooseNum(1, 12)
    forAll(Gen.zip(bitsGen, Gen.listOfN(10, vecGen))) { case (bits, vecs) =>
      // deterministic ±1 planes from the vector index (LCG like the prod pool)
      val planes = IndexedSeq.tabulate(bits * d) { p =>
        if ((1103515245L * (p + 1) + 12345L) % 2 == 0) 1.0 else -1.0
      }
      val flat = planes.map(_.toString + "D").mkString("array(", ",", ")")
      val perBit = (0 until bits).map { j =>
        val plane = planes.slice(j * d, (j + 1) * d)
          .map(_.toString + "D").mkString("array(", ",", ")")
        s"(case when vec_dot(v, $plane) > 0 then ${1 << j} else 0 end)"
      }.mkString(" + ")
      val both = vecs.toDF("v").selectExpr(
        s"srp_sig(v, $flat) as native", s"$perBit as perbit")
      assert(both.where($"native" =!= $"perbit").isEmpty)
    }
  }

  test("minhash_sig: estimated similarity bounded and symmetric-invariant") {
    forAll(Gen.zip(docGen, docGen)) { case (d1, d2) =>
      whenever(d1.size >= 3 && d2.size >= 3) {
        val df = Seq((0L, d1.mkString(" ")), (1L, d2.mkString(" ")))
          .toDF("doc_id", "text")
        val sig = df.selectExpr("doc_id",
          s"${graft.textops.TextHash.tokensSpark} as tokens")
          .selectExpr("doc_id", "transform(tokens, tk -> poly_hash(tk)) as th")
          .where("size(th) >= 3")
          .selectExpr("doc_id",
            s"""minhash_sig(transform(sequence(0, size(th) - 3), sj ->
               |((element_at(th, sj+1) * 1000003 + element_at(th, sj+2)) % 1000000007
               | * 1000003 + element_at(th, sj+3)) % 1000000007)) as sig""".stripMargin)
          .collect()
        val Array(s1, s2) = sig.map(_.getSeq[Long](1))
        // identical docs → identical sigs; any doc vs itself = 8/8 match
        if (d1 == d2) assert(s1 == s2)
        assert(s1.length == 8 && s2.length == 8)
        assert(s1.forall(v => v >= 0 && v < graft.textops.TextHash.P))
      }
    }
  }

  // ---- connectedComponents ≡ in-memory union-find on random graphs ----

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id representative per component (find compresses to the root,
    // which IS the min because unions always attach the larger root)
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private val graphGen: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.chooseNum(2, 60)
    m <- Gen.chooseNum(0, 90)
    edges <- Gen.listOfN(m, for {
      a <- Gen.chooseNum(0, n - 1)
      off <- Gen.chooseNum(1, n - 1) // b = a + off mod n: never a self-loop
    } yield (a.toLong, ((a + off) % n).toLong))
  } yield (n, edges)

  test("connectedComponents ≡ union-find on random graphs (chains, stars, forests)") {
    forAll(graphGen, n = 6) { case (n, edges) =>
      val nodes = spark.range(n).toDF("id")
      val pairs = if (edges.isEmpty)
        Seq.empty[(Long, Long)].toDF("a", "b")
      else edges.toDF("a", "b")
      val got = graft.textops.Dedup.connectedComponents(nodes, pairs)
        .as[(Long, Long)].collect().toMap
      val want = unionFind(n, edges)
      assert(got == want, s"n=$n edges=$edges")
    }
    // degenerate: empty node set must return empty, not NPE on sum(null)
    assert(graft.textops.Dedup.connectedComponents(
      spark.range(0).toDF("id"), Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
    // adversarial diameter: a pure chain 0-1-2-...-k exercises the
    // pointer-jumping round reduction
    val k = 40
    val chain = (0 until k).map(i => (i.toLong, (i + 1).toLong))
    val got = graft.textops.Dedup.connectedComponents(
        spark.range(k + 1).toDF("id"), chain.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(0L), "chain must collapse to component 0")
  }

  test("srp_probes ≡ reference margin selection; T=b recovers the full Hamming-1 set") {
    GraftExpressions.register(spark)
    val dimGen = for {
      d <- Gen.oneOf(4, 8, 16)
      bits <- Gen.chooseNum(1, 12)
      v <- Gen.listOfN(d, Gen.chooseNum(-1000, 1000).map(_ / 250.0))
      planes <- Gen.listOfN(bits * d, Gen.oneOf(-1.0, 1.0))
    } yield (d, bits, v, planes)
    forAll(dimGen, n = 6) { case (d, bits, v, planes) =>
      // scala reference: dots, sig, argsort by (|dot|, idx)
      val dots = (0 until bits).map(j =>
        (0 until d).foldLeft(0.0)((a, i) => a + v(i) * planes(j * d + i)))
      val sig = dots.zipWithIndex.foldLeft(0) { case (s, (x, j)) =>
        if (x > 0) s | (1 << j) else s }
      for (t <- Seq(3, bits)) {
        val want = sig +: dots.zipWithIndex
          .sortBy { case (x, j) => (math.abs(x), j) }.take(math.min(t, bits))
          .map { case (_, j) => sig ^ (1 << j) }
        val vArr = v.map(_.toString + "D").mkString("array(", ",", ")")
        val pArr = planes.map(_.toString + "D").mkString("array(", ",", ")")
        val got = spark.range(1)
          .selectExpr(s"srp_probes($vArr, $pArr, $t) as ps")
          .selectExpr("ps").as[Seq[Int]].head()
        assert(got == want, s"d=$d bits=$bits t=$t")
        if (t >= bits) // full budget ⇒ the complete Hamming-1 ball
          assert(got.toSet == (sig +: (0 until bits).map(j => sig ^ (1 << j))).toSet)
      }
    }
  }

  test("uv_approx HLL++ error: |approx - exact| <= 3·rsd·exact across cardinalities") {
    // uv_approx is the one unoracled query (HLL++ is not replayable in
    // DuckDB); this pins its accuracy quantitatively instead. The
    // aggregation below is the exact shape uvApprox runs per hour
    // window (approx_count_distinct at rsd = 0.01), over generated
    // per-window cardinalities spanning sparse → dense HLL regimes.
    // HLL++ is deterministic for a given input set, so this is a
    // stable gate, not a flaky statistical one.
    val rsd = 0.01
    val cardsGen = for {
      base <- Gen.oneOf(40, 700, 6000, 30000)
      offset <- Gen.chooseNum(0L, 1000000L)
    } yield (base, offset)
    forAll(cardsGen, n = 4) { case (base, offset) =>
      val windows = Seq(("w1", base.toLong), ("w2", base * 3L), ("w3", 7L))
      val rows = windows.flatMap { case (w, n) =>
        (0L until n).map(i => (w, s"u${offset + i}"))
      }
      val got = rows.toDF("window_end", "user_id")
        .groupBy($"window_end")
        .agg(approx_count_distinct($"user_id", rsd).as("uv_approx"))
        .as[(String, Long)].collect().toMap
      for ((w, n) <- windows) {
        val err = math.abs(got(w) - n).toDouble / n
        assert(err <= 3 * rsd,
          s"window $w: exact=$n approx=${got(w)} relErr=$err > ${3 * rsd}")
      }
    }
  }

  // ---- Kafka S2/S4 integration honesty: no broker in this container,
  // so the whole encode→wire-bytes→parse path runs through an actual
  // file (bytes on disk, read back cold) instead of an in-memory frame
  // — everything but the broker itself.

  /** One wire round-trip: encoded (key,value) rows → text file on disk
    * → read back → Kafka-shaped frame → layout parser. Returns the
    * parsed typed rows.
    */
  private def fileRoundTrip[T: org.apache.spark.sql.Encoder](
      enc: org.apache.spark.sql.DataFrame,
      parse: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[T]): Seq[T] = {
    val dir = java.nio.file.Files.createTempDirectory("graftkafka").toString
    enc.select($"value").write.mode("overwrite").text(dir)
    val kafkaShaped = spark.read.text(dir).select(
      lit(null).cast("binary").as("key"),
      $"value".cast("binary").as("value"),
      lit("t").as("topic"), lit(0).as("partition"),
      monotonically_increasing_id().as("offset"),
      current_timestamp().as("timestamp"),
      lit(0).as("timestampType"))
    parse(kafkaShaped).collect().toSeq
  }

  private val csvToken = Gen.oneOf( // unquoted CSV wire format: no , or \n
    "pv", "buy", "cart", "fav", "beijing", "shanghai", "-", "tx42", "a_b.c")
  private val secMillis = Gen.chooseNum(0L, 4102444800L).map(_ * 1000L)

  test("kafka wire round-trip through a file: all six layouts") {
    import graft.sources.{CsvSources => C, KafkaSources => K}
    val gen = for {
      ids <- Gen.listOfN(8, Gen.chooseNum(0L, 999999L))
      toks <- Gen.listOfN(8, csvToken)
      ts <- Gen.listOfN(8, secMillis)
    } yield (ids, toks, ts)
    forAll(gen, n = 3) { case (ids, toks, ts) =>
      val rows3 = ids.zip(toks).zip(ts).map { case ((i, t), s) => (i, t, s) }
      // multiset compare (generated ids may collide; file read order is
      // arbitrary) — wire round-trip must preserve the bag of rows
      def bag[T](xs: Seq[T]) = xs.groupBy(identity).view.mapValues(_.size).toMap
      val ub = rows3.map { case (i, t, s) => C.UserBehavior(i, i * 7, i.toInt, t, s) }
      assert(bag(fileRoundTrip(K.encodeCsv(ub.toDF()), K.parseUserBehavior)) == bag(ub))
      val ad = rows3.map { case (i, t, s) => C.AdClickLog(i, i * 3, t, t, s) }
      assert(bag(fileRoundTrip(K.encodeCsv(ad.toDF(), keyCol = Some("userId")),
        K.parseAdClickLog)) == bag(ad))
      val lg = rows3.map { case (i, t, s) => C.LoginEvent(i, "10.0.0." + (i % 255), t, s) }
      assert(bag(fileRoundTrip(K.encodeCsv(lg.toDF()), K.parseLoginLog)) == bag(lg))
      // OrderEvent: null txId on create rows MUST hold its comma slot
      val or = rows3.map { case (i, t, s) =>
        C.OrderEvent(i, if (i % 2 == 0) "create" else "pay",
          if (i % 2 == 0) null else t, s) }
      assert(bag(fileRoundTrip(K.encodeCsv(or.toDF()), K.parseOrderLog)) == bag(or))
      val rc = rows3.map { case (i, t, s) => C.ReceiptEvent(t + i, "wechat", s) }
      assert(bag(fileRoundTrip(K.encodeCsv(rc.toDF()), K.parseReceiptLog)) == bag(rc))
      // apache.log: space-separated wire form with formatted timestamp
      // (1 s wire resolution — generator emits second-aligned millis)
      val ap = rows3.map { case (i, t, s) =>
        C.ApacheLogEvent("83.149.9." + (i % 255), "-", s, "GET", "/" + t) }
      assert(bag(fileRoundTrip(K.encodeApacheLog(ap.toDF()), K.parseApacheLog)) == bag(ap))
    }
  }

  test("triangleParticipation == brute-force enumeration on random graphs (degree ties included)") {
    // The degree orientation's correctness argument (each triangle
    // counted once at its unique lowest-(deg,id) apex; closing edge
    // oriented by rank transitivity) must hold on ARBITRARY graphs —
    // including heavy degree ties, isolated edges, stars and near-
    // cliques the co-purchase build never produces. Small id space
    // forces dense collisions and many equal-degree nodes.
    val edgeGen = for {
      nNodes <- org.scalacheck.Gen.chooseNum(4, 14)
      nEdges <- org.scalacheck.Gen.chooseNum(3, 40)
      es <- org.scalacheck.Gen.listOfN(nEdges, for {
        a <- org.scalacheck.Gen.chooseNum(0, nNodes - 1)
        b <- org.scalacheck.Gen.chooseNum(0, nNodes - 1)
      } yield (a.toLong, b.toLong))
    } yield es.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    forAll(edgeGen, n = 12) { edges =>
      whenever(edges.nonEmpty) {
        val und = edges.toDF("u", "v")
        val got = graft.analytics.GraphAnalytics.triangleParticipation(und)
          .as[(Long, Long)].collect().toMap
        // brute force: every node triple with all three edges present
        val eset = edges.toSet
        def has(a: Long, b: Long) = eset.contains((math.min(a, b), math.max(a, b)))
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for {
          i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
          (a, b, c) = (nodes(i), nodes(j), nodes(k))
          if has(a, b) && has(b, c) && has(a, c)
        } { want(a) += 1; want(b) += 1; want(c) += 1 }
        assert(got == want.toMap,
          s"participation mismatch on edges=$edges")
        // the dst-hash bucketed probe (the sf10 peak-shuffle cap) is a
        // pure partition of the probe edges — per-node counts are
        // additive over it, so any bucket count must reproduce the
        // single-pass result exactly
        val bucketed = graft.analytics.GraphAnalytics
          .triangleParticipation(und, buckets = 3)
          .as[(Long, Long)].collect().toMap
        assert(bucketed == want.toMap,
          s"bucketed participation mismatch on edges=$edges")
      }
    }
  }

  test("connectedComponents == union-find on random graphs (incl. isolated nodes, empty edge sets)") {
    // hash-min label propagation + path-halving must converge to the
    // true components on arbitrary graphs — long chains (propagation
    // distance), multi-component forests, isolated nodes (bypass the
    // loop entirely), and the empty-edge corner all at once.
    val graphGen = for {
      nNodes <- org.scalacheck.Gen.chooseNum(1, 16)
      nEdges <- org.scalacheck.Gen.chooseNum(0, 20)
      es <- org.scalacheck.Gen.listOfN(nEdges, for {
        a <- org.scalacheck.Gen.chooseNum(0, nNodes - 1)
        b <- org.scalacheck.Gen.chooseNum(0, nNodes - 1)
      } yield (a.toLong, b.toLong))
    } yield (nNodes, es.filter(e => e._1 != e._2).distinct)
    forAll(graphGen, n = 12) { case (nNodes, edges) =>
      val nodes = (0L until nNodes.toLong).toDF("id")
      val pairs = edges.toDF("a", "b")
      val got = graft.textops.Dedup.connectedComponents(nodes, pairs)
        .as[(Long, Long)].collect().toMap
      // union-find ground truth; component label = min member id,
      // matching the hash-min fixed point
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until nNodes).map(i => i.toLong -> find(i).toLong).toMap
      assert(got == want, s"components mismatch on n=$nNodes edges=$edges")
    }
  }

  test("rankFixedPoint == plain-Scala micro-unit replay on random digraphs (dangling nodes included)") {
    // Independent replay of the integer fixed point (r div d per edge,
    // teleport + 85% damp, floor division throughout) over maps — the
    // DataFrame plumbing (degree join, contribution agg, left-join
    // back to the node set) must reproduce it exactly, including nodes
    // with no in-edges (teleport floor) and dangling nodes (their mass
    // is dropped by the pruned-PageRank contract, not redistributed).
    val digraphGen = for {
      nNodes <- org.scalacheck.Gen.chooseNum(2, 12)
      nEdges <- org.scalacheck.Gen.chooseNum(0, 25)
      es <- org.scalacheck.Gen.listOfN(nEdges, for {
        a <- org.scalacheck.Gen.chooseNum(0, nNodes - 1)
        b <- org.scalacheck.Gen.chooseNum(0, nNodes - 1)
      } yield (a.toLong, b.toLong))
    } yield (nNodes, es.filter(e => e._1 != e._2).distinct)
    forAll(digraphGen, n = 10) { case (nNodes, edges) =>
      val nodesDf = (0L until nNodes.toLong).toDF("v")
      val got = graft.analytics.GraphAnalytics
        .rankFixedPoint(nodesDf, edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var r = (0L until nNodes.toLong).map(_ -> 1000000L).toMap
      for (_ <- 1 to graft.analytics.GraphAnalytics.Iters) {
        val c = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for ((s, d) <- edges) c(d) += r(s) / outDeg(s)
        r = (0L until nNodes.toLong).map(v => v -> (150000L + 85L * c(v) / 100L)).toMap
      }
      assert(got == r, s"rank mismatch on n=$nNodes edges=$edges")
    }
  }

  test("small global sort in one task == Scala sort (mixed ASC/DESC, NULLS FIRST/LAST, ties); large input keeps the range sort") {
    // rows over 8 input partitions, grouped so the ORDER BY reads a
    // shuffle stage; a has few values (ties) and both a and b carry nulls
    val rowGen = Gen.zip(Gen.chooseNum(0, 30),
      Gen.option(Gen.chooseNum(-3, 3)),
      Gen.option(Gen.oneOf("", "a", "ab", "b", "ba")),
      Gen.chooseNum(-5L, 5L))
    // Option's Ordering puts None first
    def nullsLast[T](o: Ordering[T]): Ordering[Option[T]] =
      Ordering.by[Option[T], (Boolean, Option[T])](x => (x.isEmpty, x))(
        Ordering.Tuple2(Ordering.Boolean, Ordering.Option(o)))
    val keyOrd = Ordering.Tuple4(Ordering.Option(Ordering.Int.reverse),
      nullsLast(Ordering.String), Ordering.Long.reverse, Ordering.Int)
    forAll(Gen.chooseNum(50, 400).flatMap(Gen.listOfN(_, rowGen)), n = 4) { rows =>
      val want = rows.groupBy(r => (r._1, r._2, r._3)).toSeq
        .map { case ((k, a, b), rs) => (k, a, b, rs.size.toLong, rs.map(_._4).sum) }
        .sortBy(r => (r._2, r._3, r._4, r._1))(keyOrd)
      // a fresh frame per run: a collected frame keeps its final AQE plan
      def run(): (Seq[(Int, Option[Int], Option[String], Long, Long)], String) = {
        val ds = spark.sparkContext.parallelize(rows, 8).toDF("k", "a", "b", "v")
          .groupBy($"k", $"a", $"b").agg(count(lit(1)).as("n"), sum($"v").as("s"))
          .orderBy($"a".desc_nulls_first, $"b".asc_nulls_last, $"n".desc, $"k".asc)
          .as[(Int, Option[Int], Option[String], Long, Long)]
        val got = ds.collect().toSeq
        (got, ds.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
      }
      val (small, smallPlan) = run()
      assert(small == want, s"one-task sort order diverged:\n$smallPlan")
      assert("Sort \\[[^\n]*\\], true".r.findFirstIn(smallPlan).nonEmpty &&
        !smallPlan.contains("rangepartitioning"),
        s"KB-scale ORDER BY still range-partitions:\n$smallPlan")
      val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "1b")
      try {
        val (large, largePlan) = run()
        assert(large == want, s"range sort order diverged:\n$largePlan")
        assert(largePlan.contains("rangepartitioning"),
          s"input above the advisory size lost its range exchange:\n$largePlan")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("rankTopK == Scala sort by (cosine DESC, neighbor_id ASC), k per query, ranks 1..n (exact ties, queries with < k candidates)") {
    // cosines drawn from four exactly representable values, so most
    // queries rank exact ties that only the neighbor_id tie-break
    // orders; ~4 candidates per query on average against k up to 6, so
    // many queries have fewer than k. Rows are spread over 4 input
    // partitions in generation order, not neighbor order.
    val rowGen = Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 60L),
      Gen.oneOf(-0.5, 0.125, 0.25, 0.75))
    var sawTie = false
    var sawShort = false
    forAll(Gen.zip(Gen.chooseNum(0, 150).flatMap(Gen.listOfN(_, rowGen)),
        Gen.chooseNum(1, 6)), n = 8) { case (raw, k) =>
      // one cosine per (query, neighbor), as every candidate stage emits
      val rows = raw.distinctBy(r => (r._1, r._2))
      val byQuery = rows.groupBy(_._1)
      sawShort ||= byQuery.values.exists(_.size < k)
      sawTie ||= byQuery.values.exists(rs => rs.map(_._3).distinct.size < rs.size)
      val want = byQuery.toSeq.flatMap { case (q, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
          .map { case (r, i) => (q, r._2, r._3, i + 1) }
      }.sortBy(r => (r._1, r._4))
      val got = graft.textops.Similarity.rankTopK(
          spark.sparkContext.parallelize(rows, 4)
            .toDF("query_id", "neighbor_id", "cosine"), k)
        .as[(Long, Long, Double, Int)].collect().toSeq
      assert(got == want, s"rank tail diverged at k=$k on ${rows.size} rows")
    }
    assert(sawTie && sawShort, "generator produced no ties or no short queries")
  }

  test("every registered native function: generated code == interpreted eval == reference") {
    // Seq(...).toDF input never runs generated code: ConvertToLocalRelation
    // folds the projection at optimization time through nullSafeEval. So
    // each call runs twice — on the LocalRelation (interpreted) and on the
    // same rows read back from parquet inside a WholeStageCodegen stage,
    // with codegen's silent interpreted fallback switched off — and both
    // must equal a plain-Scala reference.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.types._
    import graft.textops.TextHash.{MinhashA, MinhashB, P, ShingleMult}
    GraftExpressions.register(spark)
    val rnd = new scala.util.Random(20261019L)
    val d = 6
    case class In(id: Long, s: String, text: String,
                  a: Seq[Double], b: Seq[Double], planes: Seq[Double],
                  nrm: Double, flat: Seq[Double], norms: Seq[Double], ids: Seq[Long],
                  la: Seq[Long], lb: Seq[Long], na: Seq[java.lang.Long], nb: Seq[java.lang.Long],
                  hs: Seq[Long], ia: Seq[Int], ib: Seq[Int],
                  src: Long, dst: Long, nu: Seq[Long], nv: Seq[Long])
    def dbls(n: Int) = Seq.fill(n)((rnd.nextInt(2001) - 1000) / 7.0)
    def sortedSet(n: Int, hi: Int) = Seq.fill(n)(rnd.nextInt(hi)).distinct.sorted
    def str(n: Int, alphabet: String) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val words = Seq("alpha", "beta", "gamma", "the", "of", "scan", "join")
    val seps = Seq(" ", "  ", "\t", "\n", " \r\n")
    val ins = (0L until 40L).map { id =>
      val a = dbls(d)
      val cells = 5
      val la = Seq.fill(rnd.nextInt(8))(rnd.nextLong(200001L) - 100000L)
      val boxed = (xs: Seq[Long]) => xs.map(x =>
        if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(x))
      In(id,
        s = str(rnd.nextInt(40), "abcdef gh\tijxyz0189éü中"),
        text = Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size)))
          .map(_ + seps(rnd.nextInt(seps.size))).mkString(seps(rnd.nextInt(seps.size)), "", ""),
        a = a, b = dbls(3 + rnd.nextInt(6)), planes = dbls(d * (1 + rnd.nextInt(12))),
        nrm = math.sqrt(a.map(x => x * x).sum), flat = dbls(cells * d),
        norms = Seq.fill(cells)(0.5 + rnd.nextDouble()),
        ids = Seq.fill(cells)(rnd.nextLong(1000L)).distinct.padTo(cells, 1001L),
        la = la, lb = la.map(_ + rnd.nextLong(100L)),
        na = boxed(la), nb = boxed(Seq.fill(la.size + (if (rnd.nextInt(4) == 0) 1 else 0))(rnd.nextLong(1000L))),
        hs = Seq.fill(rnd.nextInt(20))(rnd.nextLong(1L << 60)),
        ia = sortedSet(rnd.nextInt(15), 30), ib = sortedSet(rnd.nextInt(15), 30),
        src = rnd.nextLong(50L), dst = rnd.nextLong(50L),
        nu = sortedSet(rnd.nextInt(10), 20).map(_.toLong),
        nv = sortedSet(rnd.nextInt(10), 20).map(_.toLong))
    }
    val arr = (t: DataType, nulls: Boolean) => ArrayType(t, containsNull = nulls)
    val schema = StructType(Seq(
      "id" -> LongType, "s" -> StringType, "text" -> StringType,
      "a" -> arr(DoubleType, false), "b" -> arr(DoubleType, false),
      "planes" -> arr(DoubleType, false), "nrm" -> DoubleType,
      "flat" -> arr(DoubleType, false), "norms" -> arr(DoubleType, false),
      "ids" -> arr(LongType, false), "la" -> arr(LongType, false),
      "lb" -> arr(LongType, false), "na" -> arr(LongType, true),
      "nb" -> arr(LongType, true), "hs" -> arr(LongType, false),
      "ia" -> arr(IntegerType, false), "ib" -> arr(IntegerType, false),
      "src" -> LongType, "dst" -> LongType,
      "nu" -> arr(LongType, false), "nv" -> arr(LongType, false))
      .map { case (n, t) => StructField(n, t, nullable = false) })
    val local = spark.createDataFrame(
      java.util.Arrays.asList(ins.map(in => Row.fromTuple(in)): _*), schema)
    val dir = java.nio.file.Files.createTempDirectory("graftnative").toString
    local.write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)

    // ---- plain-Scala references ----
    def fold(b: Seq[Byte], m: Long) = b.foldLeft(0L)((h, x) => (h * m + (x & 0xff)) % P)
    def utf8(s: String) = s.getBytes("UTF-8").toSeq
    def windows(s: String, w: Int) = {
      val b = utf8(s)
      (0 until math.max(b.length - w + 1, 1)).map(i => fold(b.slice(i, i + w), 31))
    }
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    def dot(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).foldLeft(0.0) { case (h, (p, q)) => h + p * q }
    def planeDots(in: In) = in.planes.grouped(d).map(dot(in.a, _)).toSeq
    def sig(ds: Seq[Double]) = ds.zipWithIndex.collect { case (x, j) if x > 0 => 1 << j }.sum
    def dist2(x: Seq[java.lang.Long], y: Seq[java.lang.Long]): Any =
      if (x.size != y.size || (x ++ y).contains(null)) null
      else x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum
    val cases: Seq[(String, String, In => Any)] = Seq(
      ("vec_dot", "vec_dot(a, b)", in => dot(in.a, in.b)),
      ("vec_dist2", "vec_dist2(la, lb)", in =>
        dist2(in.la.map(Long.box), in.lb.map(Long.box))),
      ("vec_dist2", "vec_dist2(na, nb)", in => dist2(in.na, in.nb)),
      ("srp_sig", "srp_sig(a, planes)", in => sig(planeDots(in))),
      ("srp_probes", "srp_probes(a, planes, 3)", { in =>
        val ds = planeDots(in)
        sig(ds) +: ds.zipWithIndex.sortBy { case (x, j) => (math.abs(x), j) }
          .take(3).map { case (_, j) => sig(ds) ^ (1 << j) }
      }),
      ("ivf_top_cells", "ivf_top_cells(a, nrm, flat, norms, ids, 3)", { in =>
        val cs = in.flat.grouped(d).map(dot(in.a, _)).zip(in.norms)
          .map { case (x, n) => x / (in.nrm * n) }.toSeq
        cs.zip(in.ids).sortBy { case (c, i) => (-c, i) }.take(3)
          .map { case (c, i) => Row(i, c) }
      }),
      ("poly_hash", "poly_hash(s)", in => fold(utf8(in.s), 31)),
      ("poly_hash37", "poly_hash37(s)", in => fold(utf8(in.s), 37)),
      ("window_hashes", "window_hashes(s, 8)", in => windows(in.s, 8)),
      ("rolling_min_hash", "rolling_min_hash(s, 8)", in => windows(in.s, 8).min),
      ("winnow_hashes", "winnow_hashes(s, 8, 3)", { in =>
        val f = windows(in.s, 8)
        f.indices.filter(i => f(i) == f.slice(i - 3 max 0, i + 4).min).map(f).distinct
      }),
      ("word_shingles", "word_shingles(text, 3)", in =>
        if (toks(in.text).size < 3) Seq.empty
        else toks(in.text).sliding(3).map(_.mkString(" ")).toSeq.distinct),
      ("token_hashes60", "token_hashes60(text)", in =>
        toks(in.text).map(t => fold(utf8(t), 31) + fold(utf8(t), 37) * (1L << 30))),
      ("shingle_hashes", "shingle_hashes(text)", { in =>
        val th = toks(in.text).map(t => fold(utf8(t), 31))
        if (th.size < 3) Seq.empty
        else th.sliding(3).map { case Seq(x, y, z) =>
          ((x * ShingleMult + y) % P * ShingleMult + z) % P }.toSeq
      }),
      ("simhash60", "simhash60(hs)", in =>
        (0 until 60).filter(i => in.hs.map(h => ((h >> i) & 1L) * 2 - 1).sum > 0)
          .map(1L << _).sum),
      ("minhash_sig", "minhash_sig(hs)", in =>
        MinhashA.zip(MinhashB).map { case (ma, mb) =>
          in.hs.map(v => (v * ma + mb) % P).foldLeft(Long.MaxValue)(math.min) }),
      ("sorted_intersect_count", "sorted_intersect_count(ia, ib)", in =>
        in.ia.intersect(in.ib).size),
      ("tri_contribs", "tri_contribs(src, dst, nu, nv)", { in =>
        val w = in.nu.intersect(in.nv)
        if (w.isEmpty) Seq.empty
        else Seq(Row(in.src, w.size.toLong), Row(in.dst, w.size.toLong)) ++
          w.map(Row(_, 1L))
      }))
    assert(cases.map(_._1).toSet == GraftExpressions.registrations.map(_.name).toSet)
    assert(ins.exists(in => dist2(in.na, in.nb) == null) &&
      ins.exists(in => dist2(in.na, in.nb) != null),
      "generator must reach both sides of vec_dist2's NULL decision")

    val codegenOnly = Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = codegenOnly.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      codegenOnly.foreach { case (k, v) => spark.conf.set(k, v) }
      cases.foreach { case (fn, call, ref) =>
        val interp = local.selectExpr("id", call)
        assert(interp.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          s"$call: the local projection was not folded, so it was not interpreted")
        val gen = scanned.selectExpr("id", call)
        val compiled = gen.queryExecution.executedPlan.exists {
          case w: WholeStageCodegenExec => w.exists {
            case p: ProjectExec => p.projectList.exists(_.exists(
              _.getClass.getName.startsWith(GraftExpressions.getClass.getName)))
            case _ => false
          }
          case _ => false
        }
        assert(compiled, s"$call: no WholeStageCodegen stage over the call\n" +
          gen.queryExecution.executedPlan)
        val byId = (df: org.apache.spark.sql.DataFrame) =>
          df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
        val (gi, gg) = (byId(interp), byId(gen))
        ins.foreach { in =>
          val want = ref(in)
          assert(gi(in.id) == want, s"$fn interpreted != reference on $in")
          assert(gg(in.id) == want, s"$fn generated != reference on $in")
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
