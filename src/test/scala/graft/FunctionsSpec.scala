package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{CentroidAgg, CosineSim, Portable, Text}

class FunctionsSpec extends AnyFunSuite with SharedSpark {

  test("SQL surface: registered custom functions work in spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |             CAST(array(0.6, 0.8) AS ARRAY<FLOAT>)) AS cs,
        |  portable_hash('abc') AS ph""".stripMargin).collect()(0)
    assert(math.abs(r.getAs[Double]("cs") - 0.6) < 1e-6) // float32 literals
    assert(r.getAs[Long]("ph") == graft.functions.Portable.phashJvm("abc"))
    val t = spark.sql(
      """SELECT
        |  shingle_hashes(array('a','b','c','a','b','c'), 3) AS sh,
        |  simhash60(array('x','y')) AS sim,
        |  rolling_fingerprint(array('a','b')) AS fp""".stripMargin).collect()(0)
    val sh = t.getSeq[Long](t.fieldIndex("sh"))
    assert(sh.nonEmpty)
    assert(sh.distinct.size == sh.size, "shingle_hashes returns distinct hashes")
    assert(t.getAs[Long]("sim") != 0L)
    assert(t.getAs[Long]("fp") != 0L)
    // width must be a literal — a column reference fails loudly at analysis
    val err = intercept[Exception](spark.sql(
      "SELECT shingle_hashes(array('a'), id) FROM range(1)").collect())
    assert(err.getMessage != null)
    val u = spark.sql(
      "SELECT l2_unit(CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS u").collect()(0)
    assert(u.getSeq[Double](0) == Seq(0.6, 0.8))
    // positional (non-distinct) window hashes: the span-masking primitive —
    // a repeated window repeats its hash at both positions, in order
    val sa = spark.sql(
      "SELECT shingle_hashes_all(array('a','b','a','b'), 2) AS sa").collect()(0)
      .getSeq[Long](0)
    assert(sa.length == 3 && sa(0) == sa(2) && sa(0) != sa(1),
      s"positional hashes must keep duplicates in window order: $sa")
  }

  test("cosine_sim: known value, symmetry, bounds, self-similarity") {
    import spark.implicits._
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    val Array(row) = df.select(
      CosineSim(col("a"), col("b")).as("ab"),
      CosineSim(col("b"), col("a")).as("ba"),
      CosineSim(col("a"), col("a")).as("aa")).collect()
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(row.getDouble(0) == expected)
    assert(row.getDouble(0) == row.getDouble(1), "symmetric")
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-12, "self-sim ~ 1")
  }

  test("cosine_sim: interpreted eval equals codegen result") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = Array(0.3f, -1.7f, 2.2f, 0.01f)
    val b = Array(1.3f, 0.7f, -0.2f, 5.0f)
    val e = graft.functions.CosineSim(
      org.apache.spark.sql.catalyst.expressions.Literal(new GenericArrayData(a.map(x => x: Any)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal(new GenericArrayData(b.map(x => x: Any)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interp = e.eval(null).asInstanceOf[Double]
    import spark.implicits._
    val viaPlan = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
      .select(CosineSim(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(interp == viaPlan, "codegen and interpreted paths must agree bit-exactly")
  }

  test("portable hash: JVM evaluation matches Spark expression") {
    import spark.implicits._
    val inputs = Seq("", "a", "hello world", "hp0_0", "0|the quick")
    val sparkVals = inputs.toDF("s").select(Portable.phash(col("s"))).collect().map(_.getLong(0))
    val jvmVals = inputs.map(Portable.phashJvm)
    assert(sparkVals.toSeq == jvmVals)
  }

  test("tokens/shingles/fingerprint behave on fixtures") {
    import spark.implicits._
    val df = Seq("  The  quick brown fox  ", "ab", "").toDF("text")
      .select(Text.tokens(col("text")).as("toks"))
    val toks = df.collect().map(_.getSeq[String](0))
    assert(toks(0) == Seq("the", "quick", "brown", "fox"))
    val sh = df.select(Text.shingles(col("toks"), 3)).collect().map(_.getSeq[String](0))
    assert(sh(0) == Seq("the quick brown", "quick brown fox"))
    assert(sh(1) == Seq.empty, "short docs yield no shingles")
    // fingerprint is order-sensitive
    val fp = Seq("a b c", "c b a").toDF("text")
      .select(Text.rollingFingerprint(Text.tokens(col("text")))).collect().map(_.getLong(0))
    assert(fp(0) != fp(1), "rolling hash must detect reordering")
  }

  test("minhash signature: identical docs share signature, length = n") {
    import spark.implicits._
    val df = Seq("the quick brown fox jumps", "the quick brown fox jumps", "totally different words here now")
      .toDF("text")
      .select(Text.minhashSignature(Text.shingles(Text.tokens(col("text")), 3), 16).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs(0).length == 16)
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("simhash: equal docs equal hash; near docs near hamming") {
    import spark.implicits._
    val df = Seq(
      "spark query engine with hash join and sort merge",
      "spark query engine with hash join and sort merge",
      "spark query engine with hash join and sort partition")
      .toDF("text").select(Text.simhash(Text.tokens(col("text"))).as("sh"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(java.lang.Long.bitCount(hs(0) ^ hs(2)) < 20, "one-word change stays close")
  }

  test("fused MinHashSigTokens equals shingle-array MinHashSig") {
    import spark.implicits._
    import graft.functions.{MinHashSigTokens, Text => T}
    val df = Seq("the quick brown fox jumps over the lazy dog", "ab", "one two three")
      .toDF("text").select(T.tokens(col("text")).as("toks"))
    val fused = df.select(MinHashSigTokens.asColumn(col("toks"), 3, 16)).collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    val viaShingles = df.select(
      when(size(T.shingles(col("toks"), 3)) > 0,
        T.minhashSignature(T.shingles(col("toks"), 3), 16))).collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    assert(fused.toSeq == viaShingles.toSeq)
    assert(fused(1) == null, "short doc yields null signature")
  }

  test("SigMatchCount equals the HOF zip_with form, codegen and SQL") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Seq.fill(16)(rnd.nextLong()), Seq.fill(16)(rnd.nextLong()))) ++
      // planted agreements + a short-vs-long pair (counts over min length)
      Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),
        (Seq(5L, 6L), Seq(5L, 6L, 7L, 8L)))
    val df = rows.toDF("a", "b")
    val both = df.select(
      graft.functions.SigMatchCount.asColumn(col("a"), col("b")).as("cg"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), b => b)).as("hof"))
      .collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1), s"mismatch: $r"))
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("sigs")
    val sql = spark.sql(
      "SELECT sig_match_count(a, b) AS m FROM sigs").collect().map(_.getInt(0))
    assert(sql.toSeq == both.map(_.getInt(0)).toSeq)
  }

  test("WindowTermPairs equals the naive quadratic pair set (r21 q156 core)") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val vocab = Vector("a", "b", "c", "d", "e")
    // strictly increasing gappy positions — the posexplode contract
    val rows: Seq[Seq[(Int, String)]] = Seq.fill(40) {
      var p = 0
      Seq.fill(rnd.nextInt(30)) {
        p += 1 + rnd.nextInt(5)
        (p, vocab(rnd.nextInt(vocab.size)))
      }
    } ++ Seq(Seq.empty, Seq((1, "a")),
      Seq((1, "a"), (2, "a"), (3, "a")), // equal terms never pair
      Seq((1, "a"), (10, "b")))          // gap > window: no pair
    val window = 3
    def naive(ps: Seq[(Int, String)]): Set[(String, String)] =
      (for {
        i <- ps.indices; j <- ps.indices
        if i < j && ps(j)._1 - ps(i)._1 <= window && ps(i)._2 != ps(j)._2
      } yield {
        val (a, b) = (ps(i)._2, ps(j)._2); if (a < b) (a, b) else (b, a)
      }).toSet
    val df = rows.zipWithIndex.toDF("ps", "i")
    val got = df.select(col("i"),
        graft.functions.WindowTermPairs.asColumn(col("ps"), window).as("prs"))
      .collect()
    got.foreach { r =>
      val i = r.getInt(0)
      val prs = r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getString(0), p.getString(1)))
      assert(prs.distinct.size == prs.size, s"row $i: duplicate pairs")
      assert(prs.toSet == naive(rows(i)), s"row $i: pair-set mismatch")
      prs.foreach { case (a, b) => assert(a < b, s"row $i: unordered pair") }
    }
  }

  test("CappedLongIds + SortedLongPairs equal the count/semi-join/self-join form (r22 q18 core)") {
    import spark.implicits._
    val rnd = new scala.util.Random(22)
    val cap = 4
    // posting rows (gram, id) with hot grams past the cap, singleton
    // grams, duplicate ids within a gram, and NULL ids (count toward the
    // df cap, never collected) — shuffled across partitions so the
    // partial/merge/serialize path of the imperative buffer is exercised
    val postings: Seq[(Long, Option[Long])] =
      (1 to 300).map { _ =>
        (rnd.nextInt(25).toLong,
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12).toLong))
      } ++ Seq((100L, Some(7L))) // singleton gram: size 1, no pairs
    val df = postings.toDF("g", "id").repartition(7)
    val grouped = df.groupBy(col("g"))
      .agg(graft.functions.CappedLongIds.asColumn(col("id"), cap).as("ids"))
    val got = grouped.collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    val byGram = postings.groupBy(_._1)
    byGram.foreach { case (g, rows) =>
      val want =
        if (rows.size > cap) None
        else Some(rows.flatMap(_._2).sorted)
      assert(got(g) == want, s"gram $g: got ${got(g)} want $want")
    }
    // pair generation: multiset equal to the strict-< self-join per group
    val pairs = grouped.filter(col("ids").isNotNull)
      .select(col("g"),
        graft.functions.SortedLongPairs.asColumn(col("ids")).as("prs"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1))))
      .toMap
    byGram.filter(_._2.size <= cap).foreach { case (g, rows) =>
      val ids = rows.flatMap(_._2)
      val want = (for {
        i <- ids.indices; j <- ids.indices
        if i < j && ids(i) != ids(j)
      } yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j))))
        .sorted
      assert(pairs(g).sorted == want, s"gram $g pairs: ${pairs(g)} want $want")
      pairs(g).foreach { case (a, b) => assert(a < b) }
    }
  }

  test("TopAdjacentPair equals the explode/groupBy/orderBy-limit-1 argmax (r22 q135 core)") {
    import spark.implicits._
    val rnd = new scala.util.Random(135)
    val alphabet = Seq("a", "b", "é", "ß", "z", "aa", "ab")
    // weighted symbol rows: runs of equal symbols (k−1 positions), short
    // arrays (< 2 symbols — contribute nothing), engineered count ties
    // (broken by UTF-8-binary (left, right)), shuffled across partitions
    // so the partial/merge/serialize path is exercised; NULL elements
    // drop every pair they sit in (heavy enough to win if counted)
    val rows: Seq[(Long, Seq[String])] =
      (1 to 120).map { _ =>
        val n = rnd.nextInt(6)
        (rnd.nextInt(5).toLong + 1L,
          Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))))
      } ++ Seq((3L, Seq("a", "a", "a")), (1L, Seq.empty[String]),
        (2L, Seq("only")), (50L, Seq(null, "z", null, "z", null)),
        (1L, Seq("é", "ß", null, "é")))
    val df = rows.toDF("f", "syms").repartition(7)
    val want = df.filter(size(col("syms")) >= 2)
      .select(col("f"), explode(
        transform(sequence(lit(1), size(col("syms")) - 1),
          j => struct(element_at(col("syms"), j).as("s1"),
            element_at(col("syms"), j + lit(1)).as("s2")))).as("p"))
      .filter(col("p.s1").isNotNull && col("p.s2").isNotNull)
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum(col("f")).as("n"))
      .orderBy(desc("n"), col("s1"), col("s2"))
      .limit(1).collect()(0)
    val got = df.select(graft.functions.TopAdjacentPair.asColumn(
      col("f"), col("syms")).as("top")).collect()(0).getStruct(0)
    assert((got.getString(0), got.getString(1), got.getLong(2)) ==
      ((want.getString(0), want.getString(1), want.getLong(2))))
    // the observe + localCheckpoint harvest path (the bpeFit usage)
    val obs = org.apache.spark.sql.Observation()
    val ck = df.observe(obs, graft.functions.TopAdjacentPair.asColumn(
      col("f"), col("syms")).as("top")).localCheckpoint(true)
    try {
      val o = obs.getAsJava.get("top").asInstanceOf[org.apache.spark.sql.Row]
      assert((o.getString(0), o.getString(1), o.getLong(2)) ==
        ((want.getString(0), want.getString(1), want.getLong(2))))
    } finally ck.unpersist()
    // no row with >= 2 symbols -> NULL (the bpeFit exhaustion signal)
    val none = Seq((1L, Seq("x")), (2L, Seq.empty[String]))
      .toDF("f", "syms")
      .select(graft.functions.TopAdjacentPair.asColumn(
        col("f"), col("syms")).as("top")).collect()(0)
    assert(none.isNullAt(0))
  }

  test("codegen RollingFingerprint equals the HOF fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("the quick brown fox", "a b c d e f", "", "one").toDF("text")
    val both = df.select(
      graft.functions.RollingFingerprint(graft.functions.Text.tokens(col("text"))).as("cg"),
      graft.functions.Text.rollingFingerprint(graft.functions.Text.tokens(col("text"))).as("hof"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch: $r"))
  }

  test("centroid aggregator matches per-dimension mean") {
    import spark.implicits._
    val data = Seq((0, Seq(1f, 2f)), (0, Seq(3f, 4f)), (1, Seq(10f, 20f)))
    val ds = data.toDF("label", "emb").as[(Int, Seq[Float])]
    val agg = udaf(new CentroidAgg(2))
    val r = ds.toDF("label", "emb").groupBy(col("label"))
      .agg(agg(col("emb")).as("c")).orderBy("label").collect()
    assert(r(0).getSeq[Double](1) == Seq(2.0, 3.0))
    assert(r(1).getSeq[Double](1) == Seq(10.0, 20.0))
  }

  test("ExciseSpans: linear-merge edge cases (overlaps, duplicates, edges, empty)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // (tokens, sorted starts, width) -> expected kept tokens
    val width = 3
    val cases = Seq(
      // disjoint spans at both edges
      (Seq("a", "b", "c", "d", "e", "f", "g"), Seq(0, 4), Seq("d")),
      // overlapping + duplicate starts merge into one covered interval
      (Seq("a", "b", "c", "d", "e", "f"), Seq(1, 1, 2), Seq("a", "f")),
      // adjacent spans, no gap
      (Seq("a", "b", "c", "d", "e", "f"), Seq(0, 3), Seq()),
      // no starts: everything kept
      (Seq("a", "b", "c"), Seq(), Seq("a", "b", "c")),
      // span clipped at the tail (start + width past the end)
      (Seq("a", "b", "c", "d"), Seq(3), Seq("a", "b", "c")),
      // empty tokens
      (Seq[String](), Seq(), Seq[String]()))
    cases.foreach { case (toks, starts, want) =>
      val got = Seq((toks, starts)).toDF("t", "s")
        .select(graft.functions.ExciseSpans.asColumn(col("t"),
          col("s").cast("array<int>"), width).as("k"))
        .as[Seq[String]].collect().head
      assert(got == want, s"excise($toks, starts=$starts): got $got want $want")
    }
  }

  test("FirstEqIndex: first aligned equality, -1 when none, shorter-length zip") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cases = Seq(
      (Seq(1L, 2L, 3L), Seq(9L, 2L, 3L), 1),   // first match at 1, not 2
      (Seq(1L, 2L), Seq(1L, 2L), 0),
      (Seq(1L, 2L), Seq(3L, 4L), -1),           // none
      (Seq(1L, 2L, 3L), Seq(9L, 9L), -1),       // zip over shorter length
      (Seq(5L), Seq(9L, 5L), -1),               // alignment matters
      (Seq[Long](), Seq(1L), -1))
    cases.foreach { case (a, b, want) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(graft.functions.FirstEqIndex.asColumn(col("a"), col("b")))
        .as[Int].collect().head
      assert(got == want, s"firstEq($a, $b): got $got want $want")
    }
  }

  test("signature expressions fail at ANALYSIS time on wrong input types") {
    import spark.implicits._
    import org.apache.spark.sql.AnalysisException
    // ExciseSpans reads starts via getInt: array<bigint> starts used to
    // garble positions silently (ADVICE r14) — now an analysis error
    val toks = Seq((Seq("a", "b", "c"), Seq(0L, 2L))).toDF("t", "s")
    intercept[AnalysisException] {
      toks.select(graft.functions.ExciseSpans.asColumn(col("t"), col("s"), 2))
        .collect()
    }
    intercept[AnalysisException] { // non-array tokens
      toks.select(graft.functions.ExciseSpans.asColumn(
        lit("ab"), col("s").cast("array<int>"), 2)).collect()
    }
    val sigs = Seq((Seq(1, 2), Seq(1L, 2L))).toDF("i", "l")
    intercept[AnalysisException] { // int32 signatures read as int64
      sigs.select(graft.functions.FirstEqIndex.asColumn(col("i"), col("l")))
        .collect()
    }
    intercept[AnalysisException] {
      sigs.select(graft.functions.SigMatchCount.asColumn(col("l"), col("i")))
        .collect()
    }
  }

  test("fold_text: case+accent fold, composed==decomposed, idempotent, non-accents survive") {
    import spark.implicits._
    val cases = Seq(
      ("Café", "cafe"),                  // composed e-acute
      ("Café", "cafe"),                 // decomposed e + combining acute
      ("ÁÈÎ Ñ Ç", "aei n c"),
      ("plain ASCII Text", "plain ascii text"),
      ("", ""),
      ("straße", "straße"),         // ß is not an accent: survives
      ("한글", "한글"),       // Hangul recomposes intact under NFD→NFC
      ("ø", "ø"))                   // ø has no decomposition: survives
    val df = cases.map(_._1).toDF("s")
      .select(graft.functions.UnicodeFold(col("s")).as("f"))
    assert(df.as[String].collect().toSeq == cases.map(_._2),
      "fold semantics")
    // idempotence: fold(fold(x)) == fold(x)
    val twice = cases.map(_._1).toDF("s")
      .select(graft.functions.UnicodeFold(
        graft.functions.UnicodeFold(col("s"))).as("f"))
    assert(twice.as[String].collect().toSeq == cases.map(_._2))
    // composed and decomposed inputs land in the SAME group (the q99 point)
    assert(cases(0)._2 == cases(1)._2)
    // null passes through; non-string input is an analysis error
    val n = Seq[Option[String]](None).toDF("s")
      .select(graft.functions.UnicodeFold(col("s"))).collect()
    assert(n(0).isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("i").select(graft.functions.UnicodeFold(col("i"))).collect()
    }
  }

  test("dedup_segments: first kept in order, tail segment, all-dup, empty") {
    import spark.implicits._
    def run(toks: Seq[String], w: Int): Seq[String] =
      Seq(Tuple1(toks)).toDF("t")
        .select(graft.functions.DedupSegments.asColumn(col("t"), w))
        .as[Seq[String]].collect().head
    // width 2: [a b | c d | a b | e] -> dup segment dropped, tail kept
    assert(run(Seq("a", "b", "c", "d", "a", "b", "e"), 2) ==
      Seq("a b", "c d", "e"))
    // order: FIRST occurrence survives, later ones vanish
    assert(run(Seq("x", "y", "x", "y", "x", "y"), 2) == Seq("x y"))
    // a short tail equal to a full segment's text is still a dup
    assert(run(Seq("a", "b", "a", "b"), 2) == Seq("a b"))
    // tail shorter than width, not a dup
    assert(run(Seq("a", "b", "c"), 2) == Seq("a b", "c"))
    assert(run(Seq(), 3) == Seq())
    // operator face: n_segs/n_kept/trimmed_text over real text
    val df = Seq((1L, "a b c d a b c d x y")).toDF("id", "text")
    val out = graft.api.GraftOps.trimRepeatedSegments(df, col("text"), 4)
      .select(col("n_segs"), col("n_kept"), col("trimmed_text")).collect().head
    assert(out.getLong(0) == 3 && out.getLong(1) == 2 &&
      out.getString(2) == "a b c d x y")
    // empty / whitespace-only text is ZERO segments (review r15: the
    // ""-split phantom token made Spark report 1 against a
    // list-arithmetic oracle's 0)
    val empty = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("id", "text")
    val eo = graft.api.GraftOps.trimRepeatedSegments(empty, col("text"), 4)
      .orderBy("id").select(col("n_segs"), col("n_kept"), col("trimmed_text"))
      .collect()
    assert(eo(0).getLong(0) == 0 && eo(0).getLong(1) == 0 &&
      eo(0).getString(2) == "")
    assert(eo(1).getLong(0) == 0 && eo(2).getLong(0) == 1)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1(Seq(1, 2))).toDF("t")
        .select(graft.functions.DedupSegments.asColumn(col("t"), 2)).collect()
    }
  }

  test("canonical_url: the seven framing steps, content untouched") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host case, default port, trailing slash, param sort,
      // tracking drop, fragment — all at once
      ("HTTPS://Site.COM:443/a/b/?b=2&a=1&utm_source=x&gclid=1#frag",
        "https://site.com/a/b?a=1&b=2"),
      ("http://h.com:80/x", "http://h.com/x"),
      ("http://h.com:8080/x", "http://h.com:8080/x"),  // non-default port kept
      ("https://h.com:80/x", "https://h.com:80/x"),    // :80 is not https' default
      ("https://h.com/", "https://h.com"),
      ("https://h.com/p?", "https://h.com/p"),          // empty query: '?' dropped
      ("https://h.com/p?utm_campaign=c", "https://h.com/p"), // all params tracked
      ("https://h.com/p?B=1&a=2", "https://h.com/p?B=1&a=2"), // ASCII sort: 'B'<'a'
      ("https://h.com/P/Q?x=Y", "https://h.com/P/Q?x=Y"), // path/value case KEPT
      ("https://u:PW@H.com/x", "https://u:PW@h.com/x"), // userinfo is content: kept
      ("not a url", "not a url"),                          // no scheme: verbatim
      // '#' BEFORE '://' is content, not a fragment (used to throw)
      ("see item #5 at https://X.com/p#f", "see item #5 at https://x.com/p"),
      ("https://h.com", "https://h.com"))                  // no path at all
    val got = cases.map(_._1).toDF("u")
      .select(graft.functions.UrlCanon(col("u")).as("c"))
      .as[String].collect().toSeq
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"canonical_url($in): got $g want $want") }
    // idempotence: canonical form is a fixed point
    val twice = cases.map(_._1).toDF("u")
      .select(graft.functions.UrlCanon(
        graft.functions.UrlCanon(col("u"))).as("c"))
      .as[String].collect().toSeq
    assert(twice == cases.map(_._2))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("i").select(graft.functions.UrlCanon(col("i"))).collect()
    }
  }

  test("hilbert_dn rejects k*bits > 63 loudly instead of overflowing") {
    import spark.implicits._
    // direct expression use bypasses the hilbertValueN wrapper's check;
    // the kernel itself must refuse (ADVICE r14)
    val df = Seq(Seq(1L, 2L, 3L)).toDF("c")
    // surfaces as IllegalArgumentException (local eval) or SparkException
    // (executor eval) depending on where the projection runs
    val e = intercept[Exception] {
      df.select(graft.functions.HilbertDN(col("c"), 31)).collect()
    }
    assert((e.getMessage != null && e.getMessage.contains("hilbert_dn")) ||
      Option(e.getCause).exists(c =>
        c.getMessage != null && c.getMessage.contains("hilbert_dn")))
    // at the boundary (3 x 21 = 63) it still works
    val ok = df.select(graft.functions.HilbertDN(col("c"), 21)).collect()
    assert(ok.length == 1)
  }
}
