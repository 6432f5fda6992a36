package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftOps

/** The reusable operator API on schema-agnostic fixtures (the fixed
  * queries exercise the same code against TESTDATA + the oracle). */
class GraftOpsSpec extends AnyFunSuite with SharedSpark {

  test("dedupExact keeps the deterministic survivor per key") {
    import spark.implicits._
    val df = Seq((1, "x", 30), (1, "y", 10), (2, "z", 5)).toDF("k", "payload", "age")
    val out = GraftOps.dedupExact(df, col("k"), col("age"))
      .orderBy("k").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("y", "z"), "smallest age survives")
  }

  test("minhashNearDup finds planted near-duplicates on arbitrary schema") {
    import spark.implicits._
    val base = "spark is a unified analytics engine for large scale data processing with apis"
    val df = Seq(
      (100L, base),
      (200L, base + " in scala"),                 // near-dup of 100
      (300L, "completely different text about cooking pasta with tomatoes and basil sauce"))
      .toDF("my_id", "body")
    val pairs = GraftOps.minhashNearDup(df, col("my_id"), col("body"),
      minMatches = 6).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((100L, 200L)))
  }

  test("asofJoin picks the latest left row at-or-before each right ts") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 99.0),
      (1L, ts("2024-01-01 10:05:00"), 101.0),
      (2L, ts("2024-01-01 10:00:00"), 50.0)).toDF("sym", "t", "px")
    val trades = Seq((1L, ts("2024-01-01 10:03:00"), 10),
      (1L, ts("2024-01-01 10:07:00"), 20),
      (2L, ts("2024-01-01 09:59:00"), 30)).toDF("sym", "t", "qty")
    val out = GraftOps.asofJoin(quotes, trades, "sym", "t")
      .orderBy("sym", "t").collect()
    val px = out.map(r => Option(r.getAs[Any]("asof_px")))
    assert(px(0).contains(99.0), "10:03 trade sees 10:00 quote")
    assert(px(1).contains(101.0), "10:07 trade sees 10:05 quote")
    assert(px(2).isEmpty, "09:59 trade has no prior quote")
  }

  test("asofJoin keeps same-named right columns intact (no union merge)") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // both sides carry a 'px' column — the right side's must survive
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 99.0)).toDF("sym", "t", "px")
    val trades = Seq((1L, ts("2024-01-01 10:03:00"), 77.0, 10)).toDF("sym", "t", "px", "qty")
    val out = GraftOps.asofJoin(quotes, trades, "sym", "t").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Double]("px") == 77.0, "right side's own px preserved")
    assert(r.getAs[Double]("asof_px") == 99.0, "left's px arrives prefixed")
  }

  test("asofJoin tiebreak makes equal-ts left rows deterministic") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 1.0, 5L),
      (1L, ts("2024-01-01 10:00:00"), 2.0, 9L)).toDF("sym", "t", "px", "seq")
    val trades = Seq((1L, ts("2024-01-01 10:01:00"), 10)).toDF("sym", "t", "qty")
    val out = GraftOps.asofJoin(quotes, trades, "sym", "t", tiebreak = Some("seq")).collect()
    assert(out(0).getAs[Double]("asof_px") == 2.0, "greatest tiebreak (seq=9) wins")
  }

  test("asofJoin carries the matched left row INTACT (null fields never backfill)") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // latest quote has px = null: the asof row must surface THAT row's
    // null, not mix in the px of the older 10:00 row
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), Option(99.0), Option("old")),
      (1L, ts("2024-01-01 10:05:00"), Option.empty[Double], Option("new")))
      .toDF("sym", "t", "px", "tag")
    val trades = Seq((1L, ts("2024-01-01 10:07:00"), 10)).toDF("sym", "t", "qty")
    val out = GraftOps.asofJoin(quotes, trades, "sym", "t").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("asof_tag") == "new")
    assert(out(0).isNullAt(out(0).fieldIndex("asof_px")),
      "null px of the latest left row must not be filled from the older row")
  }

  test("asofJoin forward picks the earliest left row at-or-after each right ts") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 99.0),
      (1L, ts("2024-01-01 10:05:00"), 101.0),
      (2L, ts("2024-01-01 10:00:00"), 50.0)).toDF("sym", "t", "px")
    val trades = Seq((1L, ts("2024-01-01 10:03:00"), 10),
      (1L, ts("2024-01-01 10:05:00"), 15), // equal ts: bound is inclusive
      (2L, ts("2024-01-01 10:01:00"), 30)).toDF("sym", "t", "qty")
    val out = GraftOps.asofJoin(quotes, trades, "sym", "t", forward = true)
      .orderBy("sym", "t").collect()
    val px = out.map(r => Option(r.getAs[Any]("asof_px")))
    assert(px(0).contains(101.0), "10:03 trade sees the NEXT quote at 10:05")
    assert(px(1).contains(101.0), "equal-ts quote matches (at-or-after)")
    assert(px(2).isEmpty, "10:01 trade on sym 2 has no following quote")
  }

  test("asofJoin toleranceUs nulls matches beyond the bound, keeps the row") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 99.0)).toDF("sym", "t", "px")
    val trades = Seq((1L, ts("2024-01-01 10:04:00"), 10),
      (1L, ts("2024-01-01 10:06:00"), 20)).toDF("sym", "t", "qty")
    val out = GraftOps.asofJoin(quotes, trades, "sym", "t",
        toleranceUs = 5L * 60 * 1000000)
      .orderBy("t").collect()
    assert(out.length == 2, "tolerance is an enrichment bound, not a filter")
    assert(Option(out(0).getAs[Any]("asof_px")).contains(99.0),
      "4-minute gap within the 5-minute tolerance")
    assert(out(1).isNullAt(out(1).fieldIndex("asof_px")),
      "6-minute gap beyond tolerance nulls the match")
  }

  test("collocations: lift = n_xy*N/(n_x*n_y), min-count floor, top-k order") {
    import spark.implicits._
    // 10 bigrams total: "a b" x4, "a c" x2, "d b" x1, "d e" x3
    val bgs = (Seq.fill(4)("a b") ++ Seq.fill(2)("a c") ++ Seq("d b") ++
      Seq.fill(3)("d e")).toDF("bg")
    val out = GraftOps.collocations(bgs, col("bg"), minCount = 2, k = 10)
      .collect()
    assert(out.map(_.getAs[String]("bg")).toSeq == Seq("d e", "a c", "a b"),
      "ordered by lift desc ('d b' suppressed by min-count)")
    val de = out(0)
    // n=3, N=10, n_d=4, n_e=3 -> lift = 30/12
    assert(de.getAs[Long]("n") == 3 && de.getAs[Long]("n1") == 4 &&
      de.getAs[Long]("n2") == 3)
    assert(de.getAs[Double]("lift") == 3.0 * 10.0 / (4.0 * 3.0))
  }

  test("applyDedupBest keeps the highest-scored member, not the min id") {
    import spark.implicits._
    val corpus = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9), // cluster {1,2,3}: best = 2 (tie -> min id)
      (7L, 0.5),                       // unclustered: untouched
      (8L, 0.1), (9L, 0.4))            // cluster {8,9}: best = 9
      .toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("a", "b")
    val best = GraftOps.applyDedupBest(corpus, col("id"), col("score"),
        pairs, col("a"), col("b"))
      .select("id").as[Long].collect().toSet
    assert(best == Set(2L, 7L, 9L))
    // contrast: min-id policy keeps 1 and 8
    val minId = GraftOps.applyDedup(corpus, col("id"), pairs, col("a"), col("b"))
      .select("id").as[Long].collect().toSet
    assert(minId == Set(1L, 7L, 8L))
    // NULL scores never beat scored members
    val withNull = Seq((1L, Option.empty[Double]), (2L, Some(0.1)))
      .toDF("id", "score")
    val n = GraftOps.applyDedupBest(withNull, col("id"), col("score"),
        Seq((1L, 2L)).toDF("a", "b"), col("a"), col("b"))
      .select("id").as[Long].collect().toSet
    assert(n == Set(2L))
  }

  test("weightedSample: weight edge cases and monotonicity in weight") {
    import spark.implicits._
    val ids = (1L to 2000L)
    val base = ids.map(i => (i, 0.5)).toDF("id", "w")
    val kept = GraftOps.weightedSample(base, col("id"), col("w"), 1000000L)
      .select("id").as[Long].collect().toSet
    // 0.5 weight at full rate ~ half the rows (hash-uniform)
    assert(kept.size > 800 && kept.size < 1200, s"got ${kept.size}")
    // monotone: raising every weight only ever ADDS rows
    val keptHi = GraftOps.weightedSample(
        ids.map(i => (i, 0.8)).toDF("id", "w"), col("id"), col("w"), 1000000L)
      .select("id").as[Long].collect().toSet
    assert(kept.subsetOf(keptHi), "raising weight must never drop a row")
    // NULL / zero / negative weights keep nothing; >=1 saturates to all
    val edge = Seq((1L, Option.empty[Double]), (2L, Some(0.0)),
      (3L, Some(-2.0)), (4L, Some(1.0)), (5L, Some(7.0))).toDF("id", "w")
    val e = GraftOps.weightedSample(edge, col("id"), col("w"), 1000000L)
      .select("id").as[Long].collect().toSet
    assert(e == Set(4L, 5L))
  }

  test("interpolate: straight line between neighbors, flagged fill methods") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // key 1: observations at buckets 10:00 (v=1.00) and 13:00 (v=4.00)
    // with a double observation at 13:00 (4.00, 6.00 -> avg 5.00)
    val df = Seq(
      (1L, ts("2024-01-01 10:30:00"), 1.0),
      (1L, ts("2024-01-01 13:10:00"), 4.0),
      (1L, ts("2024-01-01 13:40:00"), 6.0))
      .toDF("k", "t", "v")
    val out = GraftOps.interpolate(df, col("k"), col("t"), col("v"),
        stepUs = 3600000000L)
      .orderBy("bucket").collect()
    assert(out.length == 4, "spine 10:00..13:00 inclusive")
    assert(out(0).getAs[String]("fill_method") == "observed")
    assert(out(0).getAs[Double]("value") == 1.0)
    // interpolated: 1 + (5-1) * (1/3) and 1 + (5-1) * (2/3)
    assert(out(1).getAs[String]("fill_method") == "interpolated")
    assert(out(1).getAs[Double]("value") == 1.0 + 4.0 * (1.0 / 3.0))
    assert(out(2).getAs[Double]("value") == 1.0 + 4.0 * (2.0 / 3.0))
    assert(out(3).getAs[Double]("value") == 5.0, "two obs average exactly")
    assert(out(3).getAs[Long]("n") == 2L)
  }

  test("interpolate: ffill/bfill fire at edges whose events carry NULL values") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // Edge buckets with events but all-NULL values: the bucket anchors
    // the spine (n counts its events) yet contributes no observation, so
    // the one-sided fill rules fire there — the only reachable path,
    // since a VALUED min/max bucket always bounds the spine.
    val df = Seq(
      (1L, ts("2024-01-01 10:30:00"), Option.empty[Double]),
      (1L, ts("2024-01-01 11:30:00"), Some(5.0)),
      (1L, ts("2024-01-01 12:30:00"), Option.empty[Double]))
      .toDF("k", "t", "v")
    val out = GraftOps.interpolate(df, col("k"), col("t"), col("v"),
        stepUs = 3600000000L).orderBy("bucket").collect()
    assert(out.map(_.getAs[String]("fill_method")).toSeq ==
      Seq("bfill", "observed", "ffill"))
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(5.0, 5.0, 5.0))
    assert(out.map(_.getAs[Long]("n")).toSeq == Seq(1L, 1L, 1L),
      "NULL-valued events still count as bucket activity")
  }

  test("histogram: edge clamping shows out-of-range data, NULLs excluded") {
    import spark.implicits._
    val df = Seq(("a", Some(-5.0)), ("a", Some(0.0)), ("a", Some(9.9)),
      ("a", Some(10.0)), ("a", Some(55.0)), ("a", Some(999.0)),
      ("a", Option.empty[Double])).toDF("g", "v")
    val out = GraftOps.histogram(df, col("g"), col("v"), 0.0, 100.0, 10)
      .orderBy("bin").collect()
      .map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n"),
        r.getAs[Double]("bin_lo"), r.getAs[Double]("bin_hi")))
    // -5 clamps into bin 0; 999 clamps into bin 9; NULL excluded
    assert(out.toSeq == Seq((0, 3L, 0.0, 10.0), (1, 1L, 10.0, 20.0),
      (5, 1L, 50.0, 60.0), (9, 1L, 90.0, 100.0)))
  }

  test("contributionReport: exact shares and running cumulative ppm") {
    import spark.implicits._
    val df = Seq(("big", 60L), ("big", 40L), ("mid", 50L), ("tiny", 10L))
      .toDF("src", "tok")
    val out = GraftOps.contributionReport(df, col("src"), col("tok"))
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("group"), r.getAs[Long]("w"),
        r.getAs[Int]("rank"), r.getAs[Long]("share_ppm"),
        r.getAs[Long]("cum_ppm")))
    assert(out.toSeq == Seq(
      ("big", 100L, 1, 625000L, 625000L),
      ("mid", 50L, 2, 312500L, 937500L),
      ("tiny", 10L, 3, 62500L, 1000000L)))
  }

  test("buildVocab/encodeTokens: dense ids, tie order, OOV, null/empty contracts") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("b", "a", "b", "c")),
      (2L, Seq("a", "b", "zz")),
      (3L, Seq.empty[String]),
      (4L, null.asInstanceOf[Seq[String]])).toDF("doc_id", "toks")
    // counts: b=3, a=2, c=1, zz=1 → ids by (count desc, token asc):
    // b=0, a=1, c=2, zz=3; topK=3 cuts at the c/zz TIE on count — token
    // asc keeps c, drops zz (the boundary-determinism contract)
    val vocab = GraftOps.buildVocab(docs, col("toks"), topK = 3)
      .orderBy("token_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(vocab.toSeq == Seq(("b", 0, 3L), ("a", 1, 2L), ("c", 2, 1L)),
      s"dense ids by (count desc, token asc): ${vocab.toSeq}")
    val vdf = GraftOps.buildVocab(docs, col("toks"), topK = 3)
    val enc = GraftOps.encodeTokens(docs, col("toks"), vdf, oovId = -1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Int](2)).map(_.toSeq)))
    assert(enc.toSeq == Seq(
      (1L, Some(Seq(0, 1, 0, 2))),     // all in-vocab
      (2L, Some(Seq(1, 0, -1))),       // zz fell at the boundary → OOV
      (3L, Some(Seq.empty[Int])),      // empty text → empty ids
      (4L, None)),                     // missing text → missing ids
      s"encode contracts: ${enc.toSeq}")
    // full-width vocab: zero OOV and ids decode back to the exact tokens
    val full = GraftOps.buildVocab(docs, col("toks"), topK = 100)
    val dec = GraftOps.encodeTokens(docs, col("toks"), full)
      .filter(col("toks").isNotNull)
      .select(col("doc_id"), col("toks"), col("token_ids"))
    // decode via a join-free reverse map built from the SAME vocab
    val ent = full.agg(
      map_from_entries(collect_list(struct(col("token_id"), col("token"))))
        .as("__rev"))
    val roundtrip = dec.crossJoin(broadcast(ent))
      .withColumn("decoded",
        transform(col("token_ids"), i => element_at(col("__rev"), i)))
      .filter(not(col("decoded") === col("toks"))).count()
    assert(roundtrip == 0, "full-vocab encode must round-trip exactly")
    intercept[IllegalArgumentException] {
      GraftOps.buildVocab(docs, col("toks"), topK = 0)
    }
  }

  test("bpeFit/bpeEncode: hand-checked merges, greedy overlap, codepoints, guards") {
    import spark.implicits._
    // word freqs: low=3, lower=1, newest=2. Hand-walked reference BPE:
    //   merge 1: (l,o) 4  — ties (l,o)/(o,w) at 4 break pair-asc
    //   merge 2: (lo,w) 4
    //   merge 3: (e,s) 2  — four-way tie at 2 breaks to (e,s)
    //   merge 4: (e,w) 2  — "e" sorts before "es"/"n"/"w"
    val docs = Seq(
      (1L, Seq("low", "low", "lower")),
      (2L, Seq("low", "newest", "newest"))).toDF("doc_id", "toks")
    val merges = GraftOps.bpeFit(docs, col("toks"), nMerges = 4)
    val got = merges.orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "l", "o", 4L), (2, "lo", "w", 4L),
      (3, "e", "s", 2L), (4, "e", "w", 2L)), s"merge table: ${got.toSeq}")
    // encode == the trainer's final symbol state for every training word,
    // and unseen words segment by the same ranked rules
    val enc = GraftOps.bpeEncode(
        Seq(Seq("low", "lower", "newest", "wes")).toDF("toks"),
        col("toks"), merges)
      .select(col("pieces")).collect()(0).getSeq[Seq[String]](0)
    assert(enc == Seq(Seq("low"), Seq("low", "e", "r"),
      Seq("n", "ew", "es", "t"), Seq("w", "es")), s"pieces: $enc")
    // greedy left-to-right NON-OVERLAPPING: aaaaa under (a,a) → [aa,aa,a]
    val runMerge = Seq((1, "a", "a", 0L)).toDF("rank", "left", "right", "n")
    val run = GraftOps.bpeEncode(Seq(Seq("aaaaa")).toDF("toks"),
        col("toks"), runMerge)
      .select(col("pieces")).collect()(0).getSeq[Seq[String]](0)
    assert(run == Seq(Seq("aa", "aa", "a")), s"run pieces: $run")
    // codepoint grain: a surrogate-pair char is ONE symbol, and NULL /
    // empty tokens keep their identities (null pieces vs empty pieces)
    val uni = GraftOps.bpeEncode(
        Seq(Seq(Some("𝕏a"), Some(""), Option.empty[String]))
          .toDF("toks"), col("toks"), runMerge)
      .select(col("pieces")).collect()(0).getSeq[Seq[String]](0)
    assert(uni == Seq(Seq("𝕏", "a"), Seq(), null),
      s"codepoint/null pieces: $uni")
    // early exhaustion: a fully-merged corpus stops short of nMerges
    val tiny = GraftOps.bpeFit(Seq(Seq("ab")).toDF("toks"),
      col("toks"), nMerges = 5).collect()
    assert(tiny.length == 1 &&
      (tiny(0).getString(1), tiny(0).getString(2)) == ("a", "b"))
    // guards: empty merge table, non-dense ranks, bad nMerges
    intercept[IllegalArgumentException] {
      GraftOps.bpeEncode(docs, col("toks"),
        spark.emptyDataFrame
          .withColumn("rank", lit(1)).withColumn("left", lit("a"))
          .withColumn("right", lit("b")))
    }
    intercept[IllegalArgumentException] {
      GraftOps.bpeEncode(docs, col("toks"),
        Seq((1, "a", "b", 0L), (3, "b", "c", 0L))
          .toDF("rank", "left", "right", "n"))
    }
    intercept[IllegalArgumentException] {
      GraftOps.bpeFit(docs, col("toks"), nMerges = 0)
    }
  }

  test("lmScore: bigram surprisal exactness, fixed-point log2 ladder, short docs") {
    import spark.implicits._
    // model: (a,b) n=2/ctx(a)=2 → 0 bits; (b,a) n=1/ctx(b)=2 → 1024;
    // (b,c) n=1/ctx(b)=2 → 1024. doc 1 positions: ab, ba, ab, bc.
    val docs = Seq(
      (1L, Seq("a", "b", "a", "b", "c")),
      (2L, Seq("x")),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
    val out = GraftOps.lmScore(docs, col("id"), col("toks"))
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out.toSeq == Seq(
      (1L, 4L, 2048L, Some(512L)),
      (2L, 0L, 0L, None),     // one token: no positions, NULL average
      (3L, 0L, 0L, None)),    // missing tokens: same surface
      s"lmScore: ${out.toSeq}")
    // the fixed-point ladder == an independent reimplementation, and
    // sits within 1 q10 unit of the real 1024·log2 (sanity, not gate)
    def ladder(nBig: Long, nCtx: Long): Long = {
      val q30 = (nCtx * (1L << 30)) / nBig
      val e = (1 to 32).foldLeft(0) { (acc, k) =>
        if (q30 >= (1L << (30 + k))) k else acc
      }
      var x = q30 >> e
      var frac = 0
      for (j <- 1 to 10) {
        val xs = (x * x) / (1L << 30)
        if (xs >= (1L << 31)) { frac += 1 << (10 - j); x = xs / 2 }
        else x = xs
      }
      e * 1024L + frac
    }
    // ctx k appears 3×: (k,p) n=1 → ratio 3; (k,q) n=2 → ratio 1.5
    val d3 = Seq((10L, Seq("k", "p")), (11L, Seq("k", "q")),
      (12L, Seq("k", "q"))).toDF("id", "toks")
    val got3 = GraftOps.lmScore(d3, col("id"), col("toks"))
      .orderBy("key").collect().map(r => r.getLong(2))
    assert(got3.toSeq == Seq(ladder(1, 3), ladder(2, 3), ladder(2, 3)),
      s"ladder parity: ${got3.toSeq} vs ${(ladder(1, 3), ladder(2, 3))}")
    for ((b, c) <- Seq((1L, 3L), (2L, 3L), (1L, 7L), (3L, 1000000L))) {
      val real = 1024.0 * math.log(c.toDouble / b) / math.log(2.0)
      assert(math.abs(ladder(b, c) - real) <= 1.0,
        s"ladder($b,$c)=${ladder(b, c)} vs real $real")
    }
  }

  test("extractText: blocks, tags, entity single-decode, whitespace, null") {
    import spark.implicits._
    val cases = Seq(
      // script/style vanish WITH contents (incl. raw < and & inside)
      (1L, "a<script>if (1 < 2 && x) {}</script>b<style>p>q{}</style>c"),
      // tags become spaces — no word-joining across tags
      (2L, "<p>a</p><p>b</p>"),
      // entity decode set + amp-LAST ordering: &amp;lt; → &lt; (never <)
      (3L, "&lt;x&gt; &quot;y&quot; &#39;z&#39; &amp; &amp;lt;tm&amp;gt; &copy;"),
      // whitespace runs collapse, ends trim
      (4L, "  a\t\tb\n\nc  "),
      // plain text is already fixed-point
      (5L, "plain text stays"),
      (6L, null.asInstanceOf[String]))
      .toDF("id", "m")
    val out = GraftOps.extractText(cases, col("m"))
      .orderBy("id").collect().map(r => Option(r.getString(2)))
    assert(out.toSeq == Seq(
      Some("a b c"),
      Some("a b"),
      Some("<x> \"y\" 'z' & &lt;tm&gt; &copy;"),
      Some("a b c"),
      Some("plain text stays"),
      None), s"extractText contracts: ${out.toSeq}")
    // idempotence: extracting already-extracted text changes nothing
    // (no tags left, decoded entities don't re-decode structurally —
    // except text that LOOKS like an entity after one decode, which is
    // exactly the single-pass contract, so exclude case 3)
    val once = GraftOps.extractText(cases.filter(col("id") =!= 3), col("m"))
      .select(col("id"), col("extracted").as("m"))
    val twice = GraftOps.extractText(once, col("m"))
      .filter(not(col("extracted") <=> col("m"))).count()
    assert(twice == 0, "extractText must be idempotent off the decode edge")
  }

  test("linkRank: exact integer PageRank — dangling mass, cycle fixpoint, star authority") {
    import spark.implicits._
    // 2-node hand-check incl. the dangling path: a(1)->b(2), b dangling.
    // n=2, T=1e12, init=5e11, base=(5e11*150000) div 1e6 = 7.5e10;
    // dangle=5e11 -> share 2.5e11; inflow(b)=5e11.
    // r'(a) = 7.5e10 + (850000*2.5e11) div 1e6     = 287,500,000,000
    // r'(b) = 7.5e10 + (850000*(5e11+2.5e11)) div 1e6 = 712,500,000,000
    val two = GraftOps.linkRank(Seq((1L, 2L)).toDF("s", "d"),
        col("s"), col("d"), iterations = 1)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(two.toSeq == Seq((1L, 287500000000L), (2L, 712500000000L)))
    // mass conservation: the dangling redistribution keeps the budget
    // exact here (both divisions land exact)
    assert(two.map(_._2).sum == 1000000000000L)
    // a pure cycle at damping=1 is a fixpoint: ranks never move
    val cyc = GraftOps.linkRank(
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d"),
        col("s"), col("d"), iterations = 4, dampingPpm = 1000000L)
      .collect().map(_.getLong(1))
    assert(cyc.toSeq == Seq.fill(3)(1000000000000L / 3))
    // star: the hub every spoke links to out-ranks all spokes
    val star = GraftOps.linkRank(
        (2L to 5L).map(sp => (sp, 1L)).toDF("s", "d"),
        col("s"), col("d"), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((2L to 5L).forall(sp => star(1L) > star(sp)),
      s"hub must out-rank spokes: $star")
    // mass stays within truncation noise of the budget on a graph where
    // divisions do NOT land exact (relative loss bound ~iterations*n/T)
    val total = star.values.sum
    assert(total <= 1000000000000L &&
      total > 1000000000000L - 1000000L, s"mass leak: $total")
    intercept[IllegalArgumentException] {
      GraftOps.linkRank(Seq((1L, 2L)).toDF("s", "d"), col("s"), col("d"),
        iterations = 0)
    }
    intercept[IllegalArgumentException] {
      GraftOps.linkRank(Seq((1L, 2L)).toDF("s", "d"), col("s"), col("d"),
        iterations = 1, dampingPpm = 1000001L)
    }
    // totalMass beyond the ppm-multiply headroom fails loudly up front,
    // not as a mid-iteration ANSI overflow
    intercept[IllegalArgumentException] {
      GraftOps.linkRank(Seq((1L, 2L)).toDF("s", "d"), col("s"), col("d"),
        iterations = 1, totalMass = Long.MaxValue / 1000000L + 1)
    }
    // NULL-endpoint edges are ignored — no phantom NULL node absorbing
    // mass as permanently-dangling; the 2-node result is unchanged
    val withNulls = GraftOps.linkRank(
        Seq((Some(1L), Some(2L)), (None, Some(2L)), (Some(1L), None))
          .toDF("s", "d"),
        col("s"), col("d"), iterations = 1)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(withNulls.toSeq == Seq((1L, 287500000000L), (2L, 712500000000L)),
      s"null-endpoint edges must be ignored: ${withNulls.toSeq}")
    intercept[IllegalArgumentException] {
      GraftOps.linkRank(
        Seq((Option.empty[Long], Option.empty[Long])).toDF("s", "d"),
        col("s"), col("d"), iterations = 1)
    }
  }

  test("triangleCounts: canonicalization, orientation exactness, per-vertex counts") {
    import spark.implicits._
    val edges = Seq(
      // triangle {1,2,3}: one edge reversed, one duplicated
      (1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L),
      // self loop + dangling path — no triangles
      (4L, 4L), (4L, 5L),
      // K4 on {6,7,8,9}: C(4,3) = 4 triangles, each vertex in 3
      (6L, 7L), (6L, 8L), (6L, 9L), (7L, 8L), (7L, 9L), (8L, 9L))
      .toDF("s", "d")
    val got = GraftOps.triangleCounts(edges, col("s"), col("d"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Map(
      1L -> (2L, 1L), 2L -> (2L, 1L), 3L -> (2L, 1L),
      4L -> (1L, 0L), 5L -> (1L, 0L),
      6L -> (3L, 3L), 7L -> (3L, 3L), 8L -> (3L, 3L), 9L -> (3L, 3L))
    assert(got == want, s"per-vertex (degree, n_tri): $got")
    // Σ n_tri = 3 × total triangles (each triangle counted at 3 vertices)
    assert(got.values.map(_._2).sum == 3L * 5)
    // null endpoints are ignored, not phantom vertices
    val withNull = GraftOps.triangleCounts(
      Seq((Some(1L), Some(2L)), (None, Some(2L)), (Some(1L), None))
        .toDF("s", "d"), col("s"), col("d")).collect()
    assert(withNull.map(_.getLong(0)).toSet == Set(1L, 2L))
    // a loop-ONLY vertex is still a vertex: (node, 0, 0), not omitted
    // (review r17 — the node set derives from pre-canonicalization
    // endpoints)
    val loopOnly = GraftOps.triangleCounts(
      Seq((10L, 10L), (11L, 12L)).toDF("s", "d"), col("s"), col("d"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(loopOnly ==
      Map(10L -> (0L, 0L), 11L -> (1L, 0L), 12L -> (1L, 0L)))
  }

  test("bm25TopK: reference scores bit-equal, dup/absent/empty query contracts") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana banana"),
      (4L, ""))             // zero tokens: outside the collection
      .toDF("id", "text")
    val qsDf = Seq(
      (10L, "apple banana apple"), // duplicate query term counts once
      (11L, "durian"),             // absent from corpus: no rows
      (12L, ""))                   // no terms: no rows
      .toDF("qid", "qtext")
    val got = GraftOps.bm25TopK(docsDf, col("id"), col("text"),
        qsDf, col("qid"), col("qtext"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.map(_._1).toSet == Set(10L), "only q10 scores anything")
    // reference implementation, same arithmetic in the same order
    val n = 3L; val tot = 9L
    val k1 = 1200000L.toDouble / 1000000.0; val b = 750000L.toDouble / 1000000.0
    def contrib(tf: Long, dl: Long, df: Long): Double = {
      val x = (dl * n).toDouble / tot.toDouble
      val idf = ((n - df) * 2 + 1).toDouble / (df * 2 + 1).toDouble
      idf * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * x)))
    }
    // terms sorted ("apple" < "banana"), folded left to right
    val s1 = contrib(2, 3, 2) + contrib(1, 3, 2) // doc1: apple tf2, banana tf1
    val s2 = contrib(1, 2, 2)                    // doc2: apple only
    val s3 = contrib(4, 4, 2)                    // doc3: banana tf4
    val want = Seq((1L, s1), (2L, s2), (3L, s3)).sortBy(p => (-p._2, p._1))
      .zipWithIndex.map { case ((d, s), i) => (10L, d, (i + 1).toLong, s) }
    assert(got.sortBy(_._3).toSeq == want,
      s"bit-equal scores + deterministic ranks: got=${got.toSeq} want=$want")
  }

  test("bm25TopK: > 256 distinct query terms take the list fold, bit-equal to a term-order reference") {
    import spark.implicits._
    val vocab = (0 until 300).map(i => f"w$i%03d")
    val docText = Seq(
      1L -> (vocab.take(150) ++ Seq("w000", "w000")),
      2L -> vocab.slice(100, 300),
      3L -> vocab.indices.filter(_ % 3 == 0).map(vocab),
      4L -> Seq("unrelated", "words", "here"))
    val docsDf = docText.map { case (d, ts) => (d, ts.mkString(" ")) }
      .toDF("id", "text")
    val qsDf = Seq((7L, (vocab :+ "w005").mkString(" "))).toDF("qid", "qtext")
    val got = GraftOps.bm25TopK(docsDf, col("id"), col("text"),
        qsDf, col("qid"), col("qtext"), k = 4)
    assert(got.queryExecution.logical.toString.contains("collect_list"),
      "a query wider than 256 terms must plan the list fold")
    // reference: the same IEEE chain per term, folded in term order
    val n = docText.size.toLong
    val tot = docText.map(_._2.size.toLong).sum
    val k1 = 1200000L.toDouble / 1000000.0; val b = 750000L.toDouble / 1000000.0
    def contrib(tf: Long, dl: Long, df: Long): Double = {
      val x = (dl * n).toDouble / tot.toDouble
      val idf = ((n - df) * 2 + 1).toDouble / (df * 2 + 1).toDouble
      idf * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * x)))
    }
    def df(t: String): Long = docText.count(_._2.contains(t)).toLong
    val scores = docText.flatMap { case (d, ts) =>
      val hits = vocab.sorted.filter(ts.contains)
      if (hits.isEmpty) None
      else Some(d -> hits.foldLeft(0.0) { (acc, t) =>
        acc + contrib(ts.count(_ == t).toLong, ts.size.toLong, df(t)) })
    }
    val want = scores.sortBy(p => (-p._2, p._1)).zipWithIndex
      .map { case ((d, s), i) => (7L, d, (i + 1).toLong, s) }
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.sortBy(_._3).toSeq == want,
      s"list-fold scores bit-equal: got=${rows.toSeq} want=$want")
  }

  test("bm25TopK/proximityTopK: a non-deterministic queries plan is read as one snapshot") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "banana cherry durian elder"),
      (3L, "apple fig grape"),
      (4L, "cherry durian fig"),
      (5L, "elder grape apple banana"))
      .toDF("doc_id", "text")
    val texts = Map(
      10L -> ("apple banana", "cherry durian elder"),
      11L -> ("fig", "grape apple banana cherry"))
    // every evaluation of a query row flips it to its other text — the
    // most adversarial non-deterministic source: any second read of the
    // queries plan sees different terms than the first
    val pick = udf { (q: Long) =>
      val n = GraftOpsSpec.evals.getOrElseUpdate(q,
        new java.util.concurrent.atomic.AtomicLong()).getAndIncrement()
      if (n % 2 == 0) texts(q)._1 else texts(q)._2
    }.asNondeterministic()
    val moving = spark.range(10, 12)
      .select(col("id").as("qid"), pick(col("id")).as("qtext"))
    def fixed(second: Boolean) = texts.toSeq
      .map { case (q, (a, b)) => (q, if (second) b else a) }.toDF("qid", "qtext")
    def byQuery(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Seq[Any]]] =
      df.collect().toSeq.map(_.toSeq).groupBy(_.head.asInstanceOf[Long])
        .map { case (q, rs) => q -> rs.sortBy(_(2).toString.toLong) }
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "bm25TopK" -> (qs => GraftOps.bm25TopK(docs, col("doc_id"), col("text"),
        qs, col("qid"), col("qtext"), k = 3)),
      "proximityTopK" -> (qs => GraftOps.proximityTopK(docs, col("doc_id"),
        col("text"), qs, col("qid"), col("qtext"), window = 2, k = 3)))
    ops.foreach { case (name, op) =>
      val refs = Seq(byQuery(op(fixed(false))), byQuery(op(fixed(true))))
      texts.keys.foreach(q => assert(refs(0)(q) != refs(1)(q),
        s"$name fixture: query $q's two texts must rank differently"))
      (1 to 4).foreach { call =>
        val got = byQuery(op(moving))
        assert(got.nonEmpty, s"$name call $call returned nothing")
        got.foreach { case (q, rows) =>
          assert(refs.exists(_.get(q).contains(rows)),
            s"$name call $call: query $q mixes its texts: $rows " +
              s"(want ${refs.map(_.get(q)).mkString(" or ")})")
        }
      }
    }
  }

  test("corrMatrix: exact moments, degenerate NULL, pairwise-complete counts") {
    import spark.implicits._
    val df = Seq(
      // group g1: y = 2x (rho = 1), z = -x (rho = -1), c constant
      ("g1", Some(1L), Some(2L), Some(-1L), Some(7L)),
      ("g1", Some(2L), Some(4L), Some(-2L), Some(7L)),
      ("g1", Some(3L), Some(6L), Some(-3L), Some(7L)),
      // group g2: one NULL x row — pairwise-complete counts differ
      ("g2", Some(1L), Some(5L), Some(2L), Some(1L)),
      ("g2", None, Some(6L), Some(1L), Some(2L)),
      ("g2", Some(3L), Some(4L), Some(9L), Some(3L)))
      .toDF("g", "x", "y", "z", "c")
    val got = GraftOps.corrMatrix(df, col("g"),
        Seq("c" -> col("c"), "x" -> col("x"), "y" -> col("y"), "z" -> col("z")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSet
    // reference: same exact-integer moments, same 3-op IEEE tail
    def ref(xs: Seq[Long], ys: Seq[Long]): Option[Double] = {
      val n = xs.size.toLong
      val (sx, sy) = (xs.sum, ys.sum)
      val (sxy, sxx, syy) = (xs.zip(ys).map(p => p._1 * p._2).sum,
        xs.map(v => v * v).sum, ys.map(v => v * v).sum)
      val (num, dx, dy) = (n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy)
      if (dx > 0 && dy > 0)
        Some(num.toDouble / (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble)))
      else None
    }
    val g1 = Map("c" -> Seq(7L, 7L, 7L), "x" -> Seq(1L, 2L, 3L),
      "y" -> Seq(2L, 4L, 6L), "z" -> Seq(-1L, -2L, -3L))
    val wantG1 = for {
      (a, b) <- Seq("c" -> "x", "c" -> "y", "c" -> "z",
        "x" -> "y", "x" -> "z", "y" -> "z")
    } yield ("g1", a, b, 3L, ref(g1(a), g1(b)))
    assert(got.filter(_._1 == "g1") == wantG1.toSet,
      s"g1 rows: ${got.filter(_._1 == "g1")}")
    // constant column: every pair with c is degenerate -> NULL, never NaN
    assert(got.filter(r => r._1 == "g1" && r._2 == "c").forall(_._5.isEmpty))
    // perfect linear pairs hit exactly the reference doubles
    assert(got.find(r => r._1 == "g1" && r._2 == "x" && r._3 == "y").get._5 ==
      ref(g1("x"), g1("y")))
    // pairwise-complete: g2 pairs involving x count 2 rows, y-z counts 3
    val g2n = got.filter(_._1 == "g2").map(r => (r._2, r._3) -> r._4).toMap
    assert(g2n(("x", "y")) == 2L && g2n(("x", "z")) == 2L &&
      g2n(("y", "z")) == 3L, s"pairwise counts: $g2n")
    // and the x-involving stats use ONLY the complete rows
    assert(got.find(r => r._1 == "g2" && r._2 == "x" && r._3 == "y").get._5 ==
      ref(Seq(1L, 3L), Seq(5L, 4L)))
    // underscore/dot-bearing metric names cannot collide or break
    // resolution (internal accumulators are index-keyed, review r16:
    // ("a","b_c") and ("a_b","c") used to alias the same __n_a_b_c)
    val tricky = GraftOps.corrMatrix(df.filter(col("g") === "g1"), col("g"),
        Seq("a" -> col("x"), "b_c" -> col("y"), "a_b" -> col("z"),
          "c.d" -> col("c")))
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(tricky.size == 6 && tricky.contains(("a", "b_c")) &&
      tricky.contains(("a_b", "c.d")), s"index-keyed pairs: $tricky")
  }

  test("jaccardJoinPrefix: lossless law vs brute force, recovers df-cap misses") {
    import spark.implicits._
    // word-soup docs with planted near-dups and plenty of shared tokens
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(seed: Int, n: Int): String =
      (0 until n).map(i => words((seed * 7 + i * 3) % words.size)).mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, doc(i, 12)))
    // 5 planted near-dups: copy with one word changed
    val dups = (0 until 5).map(i =>
      (100L + i, base(i * 3)._2.replaceFirst("\\S+$", "omega")))
    val df = (base ++ dups).toDF("id", "text")
    val got = GraftOps.jaccardJoinPrefix(df, col("id"), col("text"),
        shingleWidth = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: exact Jaccard over ALL pairs of distinct shingle sets
    val sets = df.select(col("id"),
        graft.functions.ShingleHashes.asColumn(
          graft.functions.Text.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) intersect sets(b)).size
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= 0.5
    } yield (a, b)).toSet
    assert(got == brute, s"lossless: got=$got brute=$brute")
    assert(got.nonEmpty, "fixture must actually plant qualifying pairs")
    // the q18 df-cap failure mode: 30 identical hot docs + 1 near miss —
    // every shared shingle is hot, dfCap misses ALL pairs; prefix finds all
    val hot = ((1L to 30L).map(i => (i, "aa bb cc dd ee ff gg")) :+
      (31L, "aa bb cc dd ee ff zz")).toDF("id", "text")
    val capped = GraftOps.ngramJaccard(hot, col("id"), col("text"),
      dfCap = 5, threshold = 0.5).count()
    val prefix = GraftOps.jaccardJoinPrefix(hot, col("id"), col("text"),
      threshold = 0.5).count()
    assert(capped == 0 && prefix == 30L * 29 / 2 + 30,
      s"df-cap misses hot-only pairs, prefix filter cannot: capped=$capped prefix=$prefix")
    // threshold = 1.0: prefix shrinks to the single rarest shingle and
    // exactly the identical-set pairs survive
    val exact = GraftOps.jaccardJoinPrefix(hot, col("id"), col("text"),
      threshold = 1.0)
    assert(exact.count() == 30L * 29 / 2 &&
      exact.select(min(col("jaccard")), max(col("jaccard"))).collect()
        .head.toSeq == Seq(1.0, 1.0))
  }

  test("rrfFuse: index-ordered fold bit-equality, consensus beats solo, topK") {
    import spark.implicits._
    val l0 = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L),
      (2L, 9L, 1L)).toDF("query_id", "doc_id", "rank")
    val l1 = Seq((1L, 3L, 1L), (1L, 2L, 2L), (1L, 4L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val got = GraftOps.rrfFuse(Seq(l0, l1), topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    def c(r: Long) = 1.0 / (r + 60L).toDouble
    // reference fold in list-index order
    val want1 = Map(1L -> c(1), 2L -> (c(2) + c(2)), 3L -> (c(3) + c(1)),
      4L -> c(3))
    val q1 = got.filter(_._1 == 1L).sortBy(_._3)
    // doc3 (ranks 3+1) edges out doc2 (ranks 2+2): 1/63+1/61 > 2/62 —
    // consensus ordering is a real float comparison, not a tie
    assert(q1.map(_._2).toSeq == Seq(3L, 2L, 1L), s"fused order: ${q1.toSeq}")
    assert(q1.forall(r => r._4 == want1(r._2)), s"bit-equal scores: ${q1.toSeq}")
    assert(q1.size == 3 && !got.exists(r => r._1 == 1L && r._2 == 4L),
      "topK cuts doc4")
    // a query present in one list only fuses from that list alone
    val q2 = got.filter(_._1 == 2L)
    assert(q2.toSeq == Seq((2L, 9L, 1L, c(1))))
  }

  test("sampleBudget: largest-remainder quotas, exact total, null stratum, full budget") {
    import spark.implicits._
    // strata sizes 5 / 3 / 2 (one NULL stratum), budget 7:
    // shares 3.5 / 2.1 / 1.4 -> bases 3 / 2 / 1, leftover 1 seat to the
    // largest remainder (a: rem 5). quotas 4 / 2 / 1.
    val df = ((1 to 5).map(i => (Some("a"), i.toLong)) ++
      (6 to 8).map(i => (Some("b"), i.toLong)) ++
      (9 to 10).map(i => (Option.empty[String], i.toLong)))
      .toDF("st", "id")
    val got = GraftOps.sampleBudget(df, col("st"), col("id"), budget = 7L)
    val byStratum = got.groupBy("st").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byStratum == Map(Some("a") -> 4L, Some("b") -> 2L, None -> 1L),
      s"largest-remainder quotas incl. the NULL stratum: $byStratum")
    assert(got.count() == 7L, "sum of quotas == budget exactly")
    // remainder TIE broken by stratum value: sizes 2/2 budget 3 ->
    // bases 1/1, rems equal, the one leftover seat goes to the
    // lexicographically-first stratum
    val tie = ((1 to 2).map(i => ("x", i.toLong)) ++
      (3 to 4).map(i => ("y", i.toLong))).toDF("st", "id")
    val tq = GraftOps.sampleBudget(tie, col("st"), col("id"), 3L)
      .groupBy("st").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tq == Map("x" -> 2L, "y" -> 1L), s"deterministic tie seat: $tq")
    // budget >= population: every base >= n_g, whole input returns
    assert(GraftOps.sampleBudget(df, col("st"), col("id"), 10L).count() == 10L)
    assert(GraftOps.sampleBudget(df, col("st"), col("id"), 25L).count() == 10L)
    // membership = the stratum's lowest portable-hash ranks, 1..quota dense
    val aRanks = got.filter(col("st") === "a").select("smp_rank").collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(aRanks == Seq(1, 2, 3, 4), s"dense hash ranks: $aRanks")
    // reserved working names fail loudly (the intervalJoin pattern)
    val clash = intercept[IllegalArgumentException] {
      GraftOps.sampleBudget(df.withColumn("__st", lit(1)),
        col("st"), col("id"), 3L)
    }
    assert(clash.getMessage.contains("__st"))
  }

  test("rollingDistinct: trailing-window dedup, grid = observed days, w=1 degenerate") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s + " 12:00:00")
    val ev = Seq(
      // user 1 active Jan 1 AND Jan 2 — counts ONCE for any window
      // covering both; user 2 only Jan 1; user 3 only Jan 5
      (1L, ts("2024-01-01")), (1L, ts("2024-01-01")), (1L, ts("2024-01-02")),
      (2L, ts("2024-01-01")), (3L, ts("2024-01-05")))
      .toDF("u", "t")
    val got = GraftOps.rollingDistinct(ev, col("u"), col("t"), windowDays = 3)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // Jan 1: {1,2}; Jan 2: {1,2}(1st still in [Dec31..Jan2])... window 3:
    //   Jan 2 covers Dec 31..Jan 2 → {1,2}; Jan 5 covers Jan 3..5 → {3}.
    // Jan 3/Jan 4 have no own events → absent from the grid.
    assert(got == Map("2024-01-01" -> 2L, "2024-01-02" -> 2L,
      "2024-01-05" -> 1L), s"rolling: $got")
    // windowDays=1 degenerates to plain daily distinct
    val daily = GraftOps.rollingDistinct(ev, col("u"), col("t"), 1)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(daily == Map("2024-01-01" -> 2L, "2024-01-02" -> 1L,
      "2024-01-05" -> 1L), s"daily: $daily")
    intercept[IllegalArgumentException] {
      GraftOps.rollingDistinct(ev, col("u"), col("t"), 0)
    }
  }

  test("groupTrend: exact line recovery, negative slope sign, degenerate keys") {
    import spark.implicits._
    val pts = Seq(
      // key 1: y = 3x + 7 exactly -> slope 3e6, icept 7e6
      (1L, 0L, 7L), (1L, 1L, 10L), (1L, 2L, 13L), (1L, 10L, 37L),
      // key 2: y = -2x + 100 -> slope -2e6 (sign split must hold)
      (2L, 0L, 100L), (2L, 5L, 90L), (2L, 10L, 80L),
      // key 3: zero x-variance -> NULL line, n reported
      (3L, 4L, 1L), (3L, 4L, 9L),
      // key 4: single point -> NULL line
      (4L, 2L, 5L))
      .toDF("k", "x", "y")
    val got = GraftOps.groupTrend(pts, col("k"), col("x"), col("y"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(got(1L) == ((4L, Some(3000000L), Some(7000000L))), s"k1: ${got(1L)}")
    assert(got(2L) == ((3L, Some(-2000000L), Some(100000000L))), s"k2: ${got(2L)}")
    assert(got(3L) == ((2L, None, None)), "zero x-variance has no line")
    assert(got(4L) == ((1L, None, None)), "single point has no line")
    // fractional fit: (0,0),(3,1),(6,2),(7,2) -> num 36, den 120,
    // slope EXACTLY 0.3 -> 300000 micro-units; icept 5·94−16·29 = 6,
    // 6·10⁶ div 120 = 50000
    val frac = Seq((9L, 0L, 0L), (9L, 3L, 1L), (9L, 6L, 2L), (9L, 7L, 2L))
      .toDF("k", "x", "y")
    val f = GraftOps.groupTrend(frac, col("k"), col("x"), col("y"))
      .collect().head
    assert(f.getLong(2) == 300000L && f.getLong(3) == 50000L,
      s"fractional fit: ${f.getLong(2)}, ${f.getLong(3)}")
  }

  test("lexiconScore: hit counting, distinct terms, ppm, zero-token doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Bad bad WORSE ok fine"),     // bad×2 + worse → 3 hits, 2 terms
      (2L, "clean text only here"),       // 0 hits
      (3L, "   "),                        // whitespace-only → 0 tokens
      (4L, "bad")).toDF("id", "t")        // 1/1 tokens → ppm 1e6
    val lex = Seq("bad", "worse", "very bad", "Nasty").toDF("term")
    val got = GraftOps.lexiconScore(docs, col("id"), col("t"), lex,
        col("term"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got(1L) == ((5, 3L, 2L, 600000L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((4, 0L, 0L, 0L)))
    assert(got(3L) == ((0, 0L, 0L, 0L)), "zero-token doc scores 0/0/0")
    // "very bad" (multi-word) and "Nasty" (mixed case) never match —
    // the stated normalize-upstream contract
    assert(got(4L) == ((1, 1L, 1L, 1000000L)))
  }

  test("topPaths: prefix grouping, shares, NULL segment, loud separator, guards") {
    import spark.implicits._
    val ev = Seq(
      // rows deliberately unordered; tiebreak is the second long
      (1L, 3L, Some("C")), (1L, 1L, Some("A")), (1L, 2L, Some("B")),
      (1L, 4L, Some("D")),                       // 4th step truncated
      (2L, 1L, Some("A")), (2L, 2L, Some("B")), (2L, 3L, Some("C")),
      (3L, 1L, Some("A")), (3L, 2L, Some("X")),
      (4L, 1L, Some("B")))
      .toDF("k", "t", "s")
    val got = GraftOps.topPaths(ev, col("k"), col("t"), col("s"),
        col("t"), maxSteps = 3, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("A>B>C", 2L, 500000L), ("A>X", 1L, 250000L)),
      s"top journeys: ${got.toSeq}")
    // a NULL state is a visible ∅ segment, not a vanished step
    val gap = Seq((9L, 1L, Some("A")), (9L, 2L, None)).toDF("k", "t", "s")
    val g = GraftOps.topPaths(gap, col("k"), col("t"), col("s"),
        col("t"), 3, 5).collect().head
    assert(g.getString(0) == "A>∅", s"gap segment: $g")
    // a state containing the separator would make paths ambiguous
    val bad = Seq((1L, 1L, Some("a>b"))).toDF("k", "t", "s")
    val ex = intercept[Exception] {
      GraftOps.topPaths(bad, col("k"), col("t"), col("s"), col("t"),
        3, 5).collect()
    }
    assert(ex.getMessage.contains("separator") ||
      Option(ex.getCause).exists(_.getMessage.contains("separator")),
      s"loud separator collision: $ex")
    intercept[IllegalArgumentException] {
      GraftOps.topPaths(ev, col("k"), col("t"), col("s"), col("t"), 0, 5)
    }
    intercept[IllegalArgumentException] {
      GraftOps.topPaths(ev, col("k"), col("t"), col("s"), col("t"), 3, 0)
    }
  }

  test("classKeyTerms: planted keywords, exact chi2, underrepresented excluded, guard") {
    import spark.implicits._
    val docs = Seq(
      ("A", "alpha alpha alpha common"),
      ("B", "beta beta beta common common common common"),
      (null, "noise noise"))
      .toDF("cls", "txt")
    val got = GraftOps.classKeyTerms(docs, col("cls"), col("txt"),
        topK = 5)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    // A/alpha: a=3, tt=3, tc=4, N=11 -> chi2 = 11*21^2/(3*8*4*7)
    //        = 4851/672 = 7.21875 exactly
    assert(got(("A", "alpha")) == ((3L, 7218750L, 1)),
      s"planted keyword with exact chi2: $got")
    assert(got.contains(("B", "beta")) && got(("B", "beta"))._3 == 1,
      s"B's keyword: $got")
    // 'common' is UNDERREPRESENTED in A (1 of 4 tokens vs 5/11 overall:
    // 1*11 < 5*4) -> excluded from A's list, but overrepresented in B
    // (4*11 > 5*7) -> present there
    assert(!got.contains(("A", "common")) && got.contains(("B", "common")),
      s"one-sided keyness: $got")
    // the NULL class vanishes entirely (and its tokens hold no margin
    // mass: N = 11, not 13 — encoded in the alpha chi2 above)
    assert(!got.keys.exists(_._1 == null), s"NULL class dropped: $got")
    intercept[IllegalArgumentException] {
      GraftOps.classKeyTerms(docs, col("cls"), col("txt"), 0)
    }
  }

  test("quantileBin: near-equal sizes, tie determinism, NULL passthrough, sparse bins, guard") {
    import spark.implicits._
    // 7 rows, 3 bins -> sizes 3/2/2 by the floor formula
    val t = Seq(
      ("g", Some(10L), 1L), ("g", Some(20L), 2L), ("g", Some(30L), 3L),
      ("g", Some(40L), 4L), ("g", Some(50L), 5L), ("g", Some(60L), 6L),
      ("g", Some(70L), 7L),
      // a value TIE ordered only by the tiebreak
      ("h", Some(5L), 2L), ("h", Some(5L), 1L), ("h", Some(9L), 3L),
      ("g", None, 99L))
      .toDF("grp", "v", "tb")
    val got = GraftOps.quantileBin(t, col("grp"), col("v"), col("tb"),
        nBins = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) -> Option(r.get(3))).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).map(tb => got(("g", tb))) ==
      Seq(Some(1), Some(1), Some(1), Some(2), Some(2), Some(3), Some(3)),
      s"7 rows over 3 bins: $got")
    // tie: tb=1 ranks before tb=2 deterministically
    assert(got(("h", 1L)) == Some(1) && got(("h", 2L)) == Some(2) &&
      got(("h", 3L)) == Some(3), s"tie order: $got")
    assert(got(("g", 99L)) == None, "NULL value keeps its row, NULL bin")
    // nBins > n leaves gaps, never errors: 3 rows over 5 bins
    val sparse = GraftOps.quantileBin(
        Seq(("x", 1L, 1L), ("x", 2L, 2L), ("x", 3L, 3L))
          .toDF("grp", "v", "tb"),
        col("grp"), col("v"), col("tb"), nBins = 5)
      .collect().map(_.getInt(3)).sorted.toSeq
    assert(sparse == Seq(1, 2, 4), s"sparse bins: $sparse")
    intercept[IllegalArgumentException] {
      GraftOps.quantileBin(t, col("grp"), col("v"), col("tb"), 0)
    }
  }

  test("proportionLift: exact rates, stated z chain, baseline row, degenerate se, loud missing baseline") {
    import spark.implicits._
    val t = Seq(
      ("a", Some(true)), ("a", Some(true)), ("a", Some(false)),
      ("a", Some(false)),
      ("b", Some(true)), ("b", Some(false)), ("b", Some(false)),
      ("b", Some(false)),
      // a NULL outcome is not a trial; a NULL variant drops
      ("a", None), (null, Some(true)))
      .toDF("v", "s")
    val got = GraftOps.proportionLift(t, col("v"), col("s"), "b")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)), Option(r.get(5))))).toMap
    // the identical 9-op chain, written out here in the same order
    val zWant = math.floor((0.5 - 0.25) /
      math.sqrt(0.375 * (1.0 - 0.375) * (1.0 / 4 + 1.0 / 4)) *
      1000000.0).toLong
    assert(got("a") == ((4L, 2L, 500000L, Some(250000L), Some(zWant))),
      s"variant a: ${got("a")} want z $zWant")
    assert(got("b") == ((4L, 1L, 250000L, None, None)),
      "the baseline row has no comparison")
    // pooled rate 1.0 -> zero standard error -> NULL z, diff still exact
    val sat = Seq(("a", true), ("b", true)).toDF("v", "s")
    val g2 = GraftOps.proportionLift(sat, col("v"), col("s"), "b")
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(4)), Option(r.get(5))))).toMap
    assert(g2("a") == ((Some(0L), None)), s"degenerate se: $g2")
    // a missing baseline is a loud failure, not an empty report
    val ex = intercept[Exception] {
      GraftOps.proportionLift(t, col("v"), col("s"), "zzz").collect()
    }
    assert(ex.getMessage.contains("no trials") ||
      Option(ex.getCause).exists(_.getMessage.contains("no trials")),
      s"loud missing baseline: $ex")
  }

  test("categoricalAssociation: exact 2x2 chi2, zero cells count, single axis, NULL category") {
    import spark.implicits._
    // balanced 2x2 with e = 20 everywhere: chi2 = 4 * (10^2/20) = 20
    // EXACTLY, V = sqrt(20/80) = 0.5 exactly
    val t1 = (Seq.fill(30)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
      Seq.fill(10)(("y", "u")) ++ Seq.fill(30)(("y", "v"))).toDF("a", "b")
    val r1 = GraftOps.categoricalAssociation(t1, col("a"), col("b"))
      .collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3),
      r1.getLong(4)) == ((80L, 2L, 2L, 20000000L, 500000L)), s"2x2: $r1")
    // a structurally-EMPTY cell still contributes its expected count:
    // cells (x,u)=1 (x,v)=1 (y,u)=2, missing (y,v) with e = 0.5
    // contributes 500000 of the 1333332 total
    val t2 = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "u"))
      .toDF("a", "b")
    val r2 = GraftOps.categoricalAssociation(t2, col("a"), col("b"))
      .collect().head
    assert(r2.getLong(3) == 1333332L,
      s"zero-observed cell contributes: $r2")
    assert(r2.getLong(4) ==
      math.floor(math.sqrt(1333332L / 1000000.0 / 4.0) * 1000000.0).toLong)
    // a single-category axis has no V (and independence -> chi2 0)
    val t3 = Seq(("x", "u"), ("y", "u")).toDF("a", "b")
    val r3 = GraftOps.categoricalAssociation(t3, col("a"), col("b"))
      .collect().head
    assert(r3.getLong(3) == 0L && r3.isNullAt(4), s"single axis: $r3")
    // NULL is a REAL category: 3 distinct a values including null
    val t4 = Seq((null, "u"), ("x", "u"), ("y", "v")).toDF("a", "b")
    val r4 = GraftOps.categoricalAssociation(t4, col("a"), col("b"))
      .collect().head
    assert(r4.getLong(1) == 3L, s"NULL category counted: $r4")
  }

  test("weightedQuantiles: mass thresholds, ties, weighted != unweighted, drops, guards") {
    import spark.implicits._
    val rows = Seq(
      // group A: W = 5; p20 -> 10, p50 -> 20 (cum 4 >= 2.5), p100 -> 30
      ("A", Some(10L), Some(1L)), ("A", Some(20L), Some(3L)),
      ("A", Some(30L), Some(1L)),
      // group B: heavy head — weighted p50 = 1, the unweighted median
      // would say 50
      ("B", Some(1L), Some(98L)), ("B", Some(50L), Some(1L)),
      ("B", Some(100L), Some(1L)),
      // group C: value tie shares cumulative mass under the RANGE frame
      ("C", Some(5L), Some(2L)), ("C", Some(5L), Some(3L)),
      ("C", Some(9L), Some(5L)),
      // massless / NULL rows drop
      ("A", Some(999L), Some(0L)), ("A", Some(998L), None),
      ("A", None, Some(7L)))
      .toDF("g", "v", "w")
    val got = GraftOps.weightedQuantiles(rows, col("g"), col("v"),
        col("w"), Seq(200000L, 500000L, 1000000L))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(("A", 200000L)) == ((10L, 5L)) &&
      got(("A", 500000L)) == ((20L, 5L)) &&
      got(("A", 1000000L)) == ((30L, 5L)), s"group A: $got")
    assert(got(("B", 500000L)) == ((1L, 100L)),
      "mass-weighted median ignores the row count")
    assert(got(("C", 500000L)) == ((5L, 10L)),
      "tie rows share the full cumulative mass")
    // a negative weight fails loudly, never silently corrupts the sums
    val bad = Seq(("A", 1L, -1L)).toDF("g", "v", "w")
    val ex = intercept[Exception] {
      GraftOps.weightedQuantiles(bad, col("g"), col("v"), col("w"),
        Seq(500000L)).collect()
    }
    assert(ex.getMessage.contains("negative weight") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative weight")),
      s"loud negative-mass failure: $ex")
    intercept[IllegalArgumentException] {
      GraftOps.weightedQuantiles(rows, col("g"), col("v"), col("w"), Seq())
    }
    intercept[IllegalArgumentException] {
      GraftOps.weightedQuantiles(rows, col("g"), col("v"), col("w"),
        Seq(1000001L))
    }
  }

  test("profileTable: exact null/distinct counts per column, schema order, column scoping, guards") {
    import spark.implicits._
    val rows = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (Some(2L), Some("a"), None),
      (Some(2L), None, Some(2.5)))
      .toDF("id", "s", "v")
    val got = GraftOps.profileTable(rows)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1L, "id", 3L, 3L, 0L, 2L),
      (2L, "s", 3L, 2L, 1L, 1L),
      (3L, "v", 3L, 2L, 1L, 2L)),
      s"per-column exact counts in schema order: ${got.toSeq}")
    val scoped = GraftOps.profileTable(rows, Seq("v"))
      .collect().map(_.getString(1)).toSeq
    assert(scoped == Seq("v"), "column scoping")
    intercept[IllegalArgumentException] {
      GraftOps.profileTable(rows, Seq("nope"))
    }
  }

  test("profileTable approx tier: no Expand in the plan, exact row/null counts, HLL distinct within 3x rsd") {
    import spark.implicits._
    // 1000 rows, 3 columns with planted cardinalities 1000 / 100 / 11
    // (incl. NULLs on the third) — wide enough to exercise the sketch
    val rows = (1 to 1000).map { i =>
      (i.toLong, s"g${i % 100}", if (i % 10 == 0) None else Some(i % 10))
    }.toDF("id", "g", "m")
    val exact = GraftOps.profileTable(rows)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val approxDf = GraftOps.profileTable(rows, approx = true)
    val approx = approxDf
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    for ((c, (n, nn, nul, nd)) <- exact) {
      val (an, ann, anul, and) = approx(c)
      assert((an, ann, anul) == ((n, nn, nul)),
        s"$c: row/non-null/null counts are EXACT in the approx tier")
      // HLL++ default rsd is 5%; 3x rsd is a generous deterministic bound
      assert(math.abs(and - nd) <= math.max(1L, (nd * 0.15).toLong),
        s"$c: approx n_distinct $and vs exact $nd exceeds 15%")
    }
    // the point of the tier: the exact multi-distinct plans an Expand
    // (m-way corpus row multiplication); the sketch tier must NOT
    val exactPlan = GraftOps.profileTable(rows)
      .queryExecution.executedPlan.toString
    val approxPlan = approxDf.queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"),
      "exact tier multi-distinct goes through Expand (baseline premise)")
    assert(!approxPlan.contains("Expand"),
      s"approx tier must avoid the Expand row multiplication:\n$approxPlan")
  }

  test("keySkewReport: hot keys with ppm shares, NULL is a real key, string tie order, guards") {
    import spark.implicits._
    val rows = (Seq.fill(6)(Some("hot")) ++ Seq.fill(2)(Option.empty[String]) ++
      Seq(Some("a"), Some("b")))
      .toDF("k")
    val got = GraftOps.keySkewReport(rows, col("k"), topN = 3)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 3 && got(0) == ((Some("hot"), 6L, 600000L, 10L, 4L)),
      s"hottest first with exact ppm + global totals: ${got.toSeq}")
    assert(got(1) == ((None, 2L, 200000L, 10L, 4L)),
      s"NULL keys report as real skew: ${got.toSeq}")
    intercept[IllegalArgumentException] {
      GraftOps.keySkewReport(rows, col("k"), 0)
    }
    // count tie between NULL and a non-null key: NULLS LAST is pinned
    // (Spark's asc default is nulls FIRST, DuckDB's is LAST — r17
    // ADVICE), so topN=1 must keep the non-null key on both engines
    val tied = (Seq.fill(2)(Some("a")) ++ Seq.fill(2)(Option.empty[String]) :+
      Some("z")).toDF("k")
    val top1 = GraftOps.keySkewReport(tied, col("k"), topN = 1)
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(top1 == Seq(Some("a")),
      s"tie between NULL and 'a' resolves NULLS LAST: $top1")
  }

  test("joinCardinalityReport: exact fanout without executing the join; NULL keys never match; guards") {
    import spark.implicits._
    val a = Seq(1L, 1L, 1L, 2L, 3L).map(Some(_)).toDF("x") // key1 x3, key2, key3
    val b = (Seq(1L, 1L, 2L).map(Some(_)) :+ Option.empty[Long]).toDF("y")
    val got = GraftOps.joinCardinalityReport(a, col("x"), b, col("y"), 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // matches: key 1 (3x2=6) + key 2 (1x1=1) = 7 join rows over 2 keys
    assert(got.toSeq == Seq(("1", 3L, 2L, 6L, 7L, 2L),
      ("2", 1L, 1L, 1L, 7L, 2L)),
      s"exact pair counts and totals, NULLs excluded: ${got.toSeq}")
    // the prediction matches the real join's count
    assert(a.join(b, col("x") === col("y")).count() == 7L,
      "predicted join_rows equals the executed join")
    intercept[IllegalArgumentException] {
      GraftOps.joinCardinalityReport(a, col("x"), b, col("y"), 0)
    }
  }

  test("kAnonymityReport: violations, rows at risk, l-diversity, NULL semantics, guards") {
    import spark.implicits._
    // groups: (A,1)x3 sens {10,10,20}->l=2; (A,2)x1 sens {30}->l=1;
    // (B,1)x2 sens {40,NULL}->l=1; (NULL,1)x2 sens {50,60}->l=2
    val rows = Seq(
      (Some("A"), 1, Some(10L)), (Some("A"), 1, Some(10L)),
      (Some("A"), 1, Some(20L)),
      (Some("A"), 2, Some(30L)),
      (Some("B"), 1, Some(40L)), (Some("B"), 1, None),
      (None, 1, Some(50L)), (None, 1, Some(60L)))
      .toDF("q1", "q2", "s")
    val r = GraftOps.kAnonymityReport(rows, Seq(col("q1"), col("q2")),
      col("s"), k = 2, l = 2).collect()(0)
    assert(r.getLong(0) == 4L, "n_groups: NULL quasi forms its own group")
    assert(r.getLong(1) == 8L, "n_rows")
    assert(r.getLong(2) == 1L && r.getLong(3) == 1L,
      "one k<2 violation (the size-1 group), 1 row at risk")
    assert(r.getLong(4) == 1L, "min group size")
    assert(r.getLong(5) == 2L && r.getLong(6) == 1L,
      "two l<2 violations (NULL sensitive carries no diversity); min_l 1")
    intercept[IllegalArgumentException] {
      GraftOps.kAnonymityReport(rows, Seq(), col("s"), 2, 2)
    }
  }

  test("sourceOverlapReport: planted cross-source dups land in the right cell with exact possibility mass") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val rows = Seq(
      (1L, txt, "srcA"), (2L, txt, "srcB"),      // cross-source exact dup
      (3L, txt, "srcA"),                          // within-A dup of 1
      (4L, other, "srcB"), (5L, "solo doc words completely different here today", "srcA"))
      .toDF("doc_id", "text", "source")
    val got = GraftOps.sourceOverlapReport(rows, col("doc_id"), col("text"),
        col("source"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // pairs: (1,2) A-B, (1,3) A-A, (2,3) A-B → cells (A,A)=1, (A,B)=2
    assert(got(("srcA", "srcA")) == ((1L, 3L, 3L, 3L, 333333L)),
      s"within-A: 1 pair of 3 possible: $got")
    assert(got(("srcA", "srcB")) == ((2L, 3L, 2L, 6L, 333333L)),
      s"cross A-B: 2 pairs of 3x2 possible: $got")
    assert(!got.contains(("srcB", "srcB")), "no within-B near-dups")
  }

  test("phraseMatch: overlapping windows, normalization canon, multi-phrase, NULL text, guards") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some("Table  SCAN table scan table")), // 'table scan' twice
      (2L, Some("a table and a scan")),           // tokens present, phrase absent
      (3L, Some("x x x")),                        // overlapping self-phrase 'x x' twice
      (4L, Some("table")),                        // shorter than the phrase
      (5L, None))
      .toDF("id", "text")
    val got = GraftOps.phraseMatch(rows, col("id"), col("text"),
        Seq(Seq("table", "scan"), Seq("x", "x")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "table scan", 2L), (3L, "x x", 2L)),
      s"canon-normalized contiguous matches only, overlaps counted: $got")
    intercept[IllegalArgumentException] {
      GraftOps.phraseMatch(rows, col("id"), col("text"), Seq(Seq()))
    }
    intercept[IllegalArgumentException] {
      GraftOps.phraseMatch(rows, col("id"), col("text"), Seq())
    }
    // caller phrase tokens go through the same canon as the document
    // side: Seq("Table", "SCAN") matches lowercased document tokens
    // (r17 ADVICE — verbatim tokens silently matched nothing)
    val mixed = GraftOps.phraseMatch(rows, col("id"), col("text"),
        Seq(Seq("Table", "SCAN")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(mixed == Set((1L, "table scan", 2L)),
      s"mixed-case phrase tokens normalize through the canon: $mixed")
    // a token the canon would SPLIT can never match one document token
    // — rejected loudly rather than baked as an unmatchable literal
    intercept[IllegalArgumentException] {
      GraftOps.phraseMatch(rows, col("id"), col("text"),
        Seq(Seq("table scan")))
    }
  }

  test("unigramSegment: DP == enumerate-all-segmentations under the pinned (cost, pieces, path) order; OOV floor") {
    import spark.implicits._
    // brute-force reference: every segmentation, picked by the stated
    // total order — the oracle's recursive-CTE form in Scala
    def allSegs(w: String, vocab: Map[String, Long],
        maxLen: Int): Seq[(Long, Int, String)] =
      if (w.isEmpty) Seq((0L, 0, ""))
      else (1 to math.min(maxLen, w.length)).flatMap { l =>
        val p = w.substring(0, l)
        val c = vocab.get(p)
          .orElse(if (l == 1) Some(graft.functions.UnigramSeg.UnkCost) else None)
        c.toSeq.flatMap(pc => allSegs(w.substring(l), vocab, maxLen).map {
          case (cost, np, path) =>
            (cost + pc, np + 1, if (path.isEmpty) p else p + " " + path)
        })
      }
    def ref(w: String, vocab: Map[String, Long], maxLen: Int): Seq[String] =
      allSegs(w, vocab, maxLen)
        .minBy(identity)(Ordering.Tuple3(Ordering.Long, Ordering.Int,
          Ordering.String))._3.split(" ").toSeq
    // adversarial ties: a+b+a == ab+a == a+ba on cost; np breaks the
    // first, path order ("a ba" < "ab a") breaks the rest
    val vocab = Seq("a" -> 5L, "b" -> 5L, "ab" -> 10L, "ba" -> 10L,
      "c" -> 7L, "abc" -> 12L, "bc" -> 9L)
    val vmap = vocab.toMap
    val rnd = new scala.util.Random(7)
    val words = Seq("aba", "abc", "abcabc", "bbb", "axa", "x") ++
      (1 to 40).map(_ => (1 to (1 + rnd.nextInt(8)))
        .map(_ => "abcx" (rnd.nextInt(4))).mkString)
    val got = words.toDF("w")
      .select(col("w"), element_at(
        graft.functions.UnigramSegment.asColumn(array(col("w")), vocab, 3),
        1).as("pieces"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    for (w <- words)
      assert(got(w) == ref(w, vmap, 3),
        s"'$w': DP ${got(w)} != reference ${ref(w, vmap, 3)}")
    assert(got("aba") == Seq("a", "ba"),
      s"cost+np tie resolves by UTF-8 path order: ${got("aba")}")
    assert(got("x") == Seq("x"), "OOV codepoint segments as itself")
    // NULL token -> NULL piece list; empty token -> empty piece list
    val edge = Seq((1L, Seq(Some("ab"), None, Some(""))))
      .toDF("id", "toks")
      .select(graft.functions.UnigramSegment.asColumn(
        expr("transform(toks, x -> x)"), vocab, 3).as("p"))
      .collect()(0).getSeq[AnyRef](0)
    assert(edge(0) == Seq("ab") && edge(1) == null && edge(2) == Seq(),
      s"NULL/empty token edges: $edge")
  }

  test("unigramFit/unigramEncode: coverage floor, vocab budget, monotone scores, encode == final-model Viterbi") {
    import spark.implicits._
    val docs = Seq("aa ab aa ba", "ab ab aa cc", "ba aa ab dd")
      .toDF("text")
    val model = GraftOps.unigramFit(docs,
      graft.functions.Text.tokens(col("text")), vocabSize = 8, iters = 2,
      maxPieceLen = 2, topWords = 10, maxWordLen = 5)
    val rows = model.orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every single codepoint of the training words survives (coverage)
    val pieces = rows.map(_._1).toSet
    assert(Set("a", "b", "c", "d").subsetOf(pieces),
      s"single-codepoint coverage floor: $pieces")
    assert(rows.length <= 8, s"vocab budget respected: ${rows.length}")
    assert(rows.map(_._4).toSeq == (1L to rows.length).toSeq,
      "rank is dense 1..n")
    // mass desc <=> sur asc (the ladder is monotone in the ratio)
    assert(rows.sliding(2).forall(p => p(0)._2 >= p(1)._2 &&
      p(0)._3 <= p(1)._3), s"mass desc, surprisal asc: ${rows.toSeq}")
    // encode applies the FINAL model's Viterbi — same expression, same
    // vocabulary, so re-segmenting a training word matches directly
    val enc = GraftOps.unigramEncode(
        Seq("aa ab zz").toDF("text").select(
          graft.functions.Text.tokens(col("text")).as("toks")),
        col("toks"), model)
      .collect()(0).getSeq[AnyRef](1)
    val vocabSeq = rows.map(r => (r._1, r._3)).toSeq
    val direct = Seq(Seq("aa", "ab", "zz")).toDF("toks")
      .select(graft.functions.UnigramSegment.asColumn(col("toks"),
        vocabSeq, 2).as("p"))
      .collect()(0).getSeq[AnyRef](0)
    assert(enc == direct, s"encode $enc != direct Viterbi $direct")
    assert(enc(2) == Seq("z", "z"), s"OOV word falls to char floor: $enc")
    intercept[IllegalArgumentException] {
      GraftOps.unigramFit(docs, graft.functions.Text.tokens(col("text")),
        vocabSize = 2, iters = 1, maxPieceLen = 2) // < coverage floor
    }
  }

  test("contaminationReport: full quote vs scattered overlap vs clean doc; mass counts repeats; minOverlap; guards") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "xx yy alpha beta gamma delta zz"), // full bench quote inside
      (2L, "alpha beta xx gamma delta"),       // scattered: 2 of 3 windows
      (3L, "nothing shared here at all"),      // clean -> no row
      (4L, "alpha beta alpha beta"))           // one window, twice (mass 2)
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("bid", "text")
    val got = GraftOps.contaminationReport(corpus, col("doc_id"),
        col("text"), bench, col("bid"), col("text"), width = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7)))).toMap
    // bench windows (width 2): alpha-beta, beta-gamma, gamma-delta = 3
    assert(got.keySet == Set(1L, 2L, 4L), s"clean doc emits no row: $got")
    assert(got(1L) == ((3L, 3L, 3L, 1000000L, 4L, 1)),
      s"doc 1: full containment, one 4-token span, full_span: ${got(1L)}")
    assert(got(2L) == ((3L, 2L, 2L, 666666L, 2L, 0)),
      s"doc 2: scattered 2/3 windows, max span 2 tokens: ${got(2L)}")
    assert(got(4L) == ((3L, 2L, 1L, 333333L, 2L, 0)),
      s"doc 4: mass 2 of ONE distinct window: ${got(4L)}")
    // minOverlap filters pairs below the distinct-overlap floor
    val floored = GraftOps.contaminationReport(corpus, col("doc_id"),
        col("text"), bench, col("bid"), col("text"), width = 2,
        minOverlap = 2).collect().map(_.getLong(0)).toSet
    assert(floored == Set(1L, 2L), s"minOverlap=2 drops doc 4: $floored")
    intercept[IllegalArgumentException] {
      GraftOps.contaminationReport(corpus, col("doc_id"), col("text"),
        bench, col("bid"), col("text"), width = 0)
    }
    intercept[IllegalArgumentException] {
      GraftOps.contaminationReport(corpus, col("doc_id"), col("text"),
        bench, col("bid"), col("text"), width = 2, minOverlap = 0)
    }
  }

  test("trendingTopK: recent beats frequent-but-old, exact shift decay, ties break on item, guards") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // ref = max ts = 2024-03-29. item 10: 3 hits 28 days old (4 half-
    // lives at h=7 → 62500 each = 187500). item 20: one hit today
    // (1000000). item 30: one hit 7 days old (500000).
    val rows = Seq(
      (10L, ts("2024-03-01 10:00:00")), (10L, ts("2024-03-01 11:00:00")),
      (10L, ts("2024-03-01 12:00:00")),
      (20L, ts("2024-03-29 12:00:00")),
      (30L, ts("2024-03-22 12:00:00")))
      .toDF("item", "ts")
    val got = GraftOps.trendingTopK(rows, col("item"), col("ts"),
        halfLifeDays = 7, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((20L, 1000000L, 1L), (30L, 500000L, 1L),
      (10L, 187500L, 3L)),
      s"recency-decayed order, exact shift arithmetic: ${got.toSeq}")
    // k truncates on the (score desc, item asc) total order
    val top1 = GraftOps.trendingTopK(rows, col("item"), col("ts"), 7, 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(20L), s"k=1 keeps the hottest item: $top1")
    intercept[IllegalArgumentException] {
      GraftOps.trendingTopK(rows, col("item"), col("ts"), 0, 5)
    }
  }

  test("attributionReport: first/last/linear credit, lookback cutoff, remainder to last, untouched conversions drop") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: touches A(click) B(view) C(click) then a purchase —
    //   first=A(click), last=C(click), linear 333333+333333+333334
    //   (remainder to the LAST touch)
    // user 2: one touch outside the 7-day lookback, one inside(view) —
    //   only the inside touch attributes (first == last == view)
    // user 3: a purchase with NO touches — drops entirely
    val rows = Seq(
      (1L, ts("2024-03-10 10:00:00"), 1L, "click", false),
      (1L, ts("2024-03-10 11:00:00"), 2L, "view", false),
      (1L, ts("2024-03-10 12:00:00"), 3L, "click", false),
      (1L, ts("2024-03-10 13:00:00"), 4L, "purchase", true),
      (2L, ts("2024-03-01 00:00:00"), 5L, "click", false), // > 7d before
      (2L, ts("2024-03-09 00:00:00"), 6L, "view", false),
      (2L, ts("2024-03-10 00:00:00"), 7L, "purchase", true),
      (3L, ts("2024-03-10 00:00:00"), 8L, "purchase", true))
      .toDF("u", "ts", "tb", "ch", "cv")
    val got = GraftOps.attributionReport(rows, col("u"), col("ts"),
        col("tb"), col("ch"), col("cv"), lookbackDays = 7)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set("click", "view"), s"channels: $got")
    // click: first for user1 (A), never last; linear 333333 + 333334
    assert(got("click") == ((1L, 1L, 333333L + 333334L)), s"click: $got")
    // view: user1 middle touch 333333; user2 sole touch = first+last+1e6
    assert(got("view") == ((1L, 1L, 333333L + 1000000L)), s"view: $got")
    // every attributed conversion's linear shares sum to exactly 1e6
    assert(got.values.map(_._3).sum == 2000000L,
      "linear ppm mass == 1e6 per attributed conversion")
    intercept[IllegalArgumentException] {
      GraftOps.attributionReport(rows, col("u"), col("ts"), col("tb"),
        col("ch"), col("cv"), lookbackDays = 0)
    }
  }

  test("attributionReport: duplicate (ts, tiebreak) at first/last raises loudly; interior dups pass (r17 ADVICE)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two touches share the FIRST position exactly → ambiguous credit
    val dupFirst = Seq(
      (1L, ts("2024-03-10 10:00:00"), 1L, "a", false),
      (1L, ts("2024-03-10 10:00:00"), 1L, "b", false),
      (1L, ts("2024-03-10 11:00:00"), 2L, "c", false),
      (1L, ts("2024-03-10 12:00:00"), 3L, "buy", true))
      .toDF("u", "ts", "tb", "ch", "cv")
    val ex = intercept[Exception] {
      GraftOps.attributionReport(dupFirst, col("u"), col("ts"), col("tb"),
        col("ch"), col("cv"), lookbackDays = 7).collect()
    }
    def msg(e: Throwable): String =
      (Option(e.getMessage) ++ Option(e.getCause).map(msg)).mkString(" ")
    assert(msg(ex).contains("ambiguous"),
      s"duplicate first-position pair must fail loudly: $ex")
    // a duplicate pair at an INTERIOR position is harmless: first and
    // last stay unique, linear mass still sums to exactly 1e6
    val dupMid = Seq(
      (1L, ts("2024-03-10 10:00:00"), 1L, "a", false),
      (1L, ts("2024-03-10 11:00:00"), 2L, "b", false),
      (1L, ts("2024-03-10 11:00:00"), 2L, "b", false),
      (1L, ts("2024-03-10 12:00:00"), 3L, "c", false),
      (1L, ts("2024-03-10 13:00:00"), 4L, "buy", true))
      .toDF("u", "ts", "tb", "ch", "cv")
    val got = GraftOps.attributionReport(dupMid, col("u"), col("ts"),
        col("tb"), col("ch"), col("cv"), lookbackDays = 7)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((1L, 0L, 250000L)) && got("c") == ((0L, 1L, 250000L)),
      s"unique first/last keep their credit: $got")
    assert(got.values.map(_._3).sum == 1000000L,
      s"linear mass still sums to exactly 1e6: $got")
  }

  test("qualityRules: each rule fails independently; NULL/empty text drops; keep is the conjunction") {
    import spark.implicits._
    val good = "the quick brown fox of all and some " * 5 + "alpha beta gamma"
    val rows = Seq(
      (1L, Some(good)),                               // passes every rule
      (2L, Some("the of and tiny")),                  // too short → r_wordcount
      (3L, Some(("x " * 40) + "the of")),             // top token 'x' mass → r_toptok; mean len 1 → r_meanlen
      (4L, Some(good + " ### ... ... ...")),          // symbols → r_sym
      (5L, Some(("word " * 39) + "tok")),             // no stopwords → r_stop
      (6L, Some(("12345 " * 39) + "999")),            // no alpha → r_alpha (and r_stop)
      (7L, None),                                     // NULL text → keep false
      (8L, Some("")))                                 // empty → keep false
      .toDF("id", "text")
    val got = GraftOps.qualityRules(rows, col("id"), col("text"),
        minWords = 10, maxWords = 1000, minMeanLenPpm = 2000000L,
        maxMeanLenPpm = 8000000L, minAlphaPpm = 800000L,
        maxSymPpm = 50000L, maxTopTokPpm = 300000L, minStops = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    def b(id: Long, f: String) = got(id).getBoolean(got(id).fieldIndex(f))
    assert(b(1L, "keep"), "the clean doc passes the whole battery")
    assert(!b(2L, "r_wordcount") && !b(2L, "keep"), "short doc fails word count")
    assert(!b(3L, "r_toptok") && !b(3L, "r_meanlen") && !b(3L, "keep"),
      "repetitive one-char doc fails top-token mass and mean length")
    assert(b(4L, "r_wordcount") && !b(4L, "r_sym") && !b(4L, "keep"),
      "symbol-heavy doc fails only the symbol rule among count rules")
    assert(!b(5L, "r_stop") && !b(5L, "keep"), "stopword-free doc fails r_stop")
    assert(!b(6L, "r_alpha") && !b(6L, "keep"), "digit-only doc fails r_alpha")
    for (id <- Seq(7L, 8L)) {
      assert(got(id).getLong(got(id).fieldIndex("n_words")) == 0L &&
        !b(id, "keep"), s"doc $id: no content → n_words 0, keep false")
    }
    intercept[IllegalArgumentException] {
      GraftOps.qualityRules(rows, col("id"), col("text"), minWords = 0)
    }
  }

  test("kCore: planted clique survives, pendant chain peels over cascading rounds, k above max degree empties") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + a pendant chain 4-10-11-12: for k=2 the chain
    // peels one vertex per round (12 first, then 11, then 10) — three
    // cascading rounds prove the loop really iterates
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val edges = (clique ++ chain ++ Seq((2L, 2L))).toDF("s", "t") // + self-loop noise
    val core2 = GraftOps.kCore(edges, col("s"), col("t"), k = 2, maxRounds = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core2.keySet == Set(1L, 2L, 3L, 4L) &&
      core2.values.forall(_ == 3L),
      s"2-core = the clique, chain fully peeled: $core2")
    // stopping early (maxRounds = 1) keeps the not-yet-cascaded suffix:
    // only 12 (degree 1) peels in round 1; 10 and 11 still have degree
    // >= 2 against each other until the NEXT rounds
    val oneRound = GraftOps.kCore(edges, col("s"), col("t"), k = 2, maxRounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(oneRound == Set(1L, 2L, 3L, 4L, 10L, 11L),
      s"after one peel only the chain tip is gone: $oneRound")
    // k above the max degree peels everything → empty
    assert(GraftOps.kCore(edges, col("s"), col("t"), k = 4, maxRounds = 10)
      .count() == 0L, "4-core of a 4-clique (degree 3) is empty")
    intercept[IllegalArgumentException] {
      GraftOps.kCore(edges, col("s"), col("t"), k = 0, maxRounds = 5)
    }
  }

  test("weightedQuantilesHist: bit-equal to exact tier under ties/skew/tiny buckets; degenerate all-equal group; guards") {
    import spark.implicits._
    // adversarial mix: heavy ties, skewed head mass, an all-equal group
    // (single-bucket degenerate), and values spanning a wide range —
    // buckets=4 forces real bracketing with multi-row refinements
    val rnd = new scala.util.Random(42)
    val rows = (1 to 500).map { i =>
      val g = s"g${i % 3}"
      val v = if (i % 3 == 2) 7L // group g2: every value ties
        else if (rnd.nextBoolean()) rnd.nextInt(10).toLong // tie-heavy head
        else rnd.nextInt(1000000).toLong // long tail
      (g, v, (rnd.nextInt(5) + 1).toLong)
    }.toDF("g", "v", "w")
    val qs = Seq(0L, 100000L, 250000L, 500000L, 900000L, 1000000L)
    for (b <- Seq(2, 4, 64)) {
      val exact = GraftOps.weightedQuantiles(rows, col("g"), col("v"),
        col("w"), qs).collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
      val hist = GraftOps.weightedQuantilesHist(rows, col("g"), col("v"),
        col("w"), qs, buckets = b).collect().map(r => (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(hist == exact, s"buckets=$b: sketch tier diverged from exact")
    }
    // negative mass fails loudly through the sketch tier too
    val bad = Seq(("A", 1L, -1L)).toDF("g", "v", "w")
    val ex = intercept[Exception] {
      GraftOps.weightedQuantilesHist(bad, col("g"), col("v"), col("w"),
        Seq(500000L)).collect()
    }
    assert(ex.getMessage.contains("negative weight") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative weight")),
      s"loud negative-mass failure: $ex")
    intercept[IllegalArgumentException] {
      GraftOps.weightedQuantilesHist(rows, col("g"), col("v"), col("w"),
        Seq(500000L), buckets = 1)
    }
  }

  test("weightedQuantilesHist: range wider than Long.MaxValue takes the exact decimal path (r17 ADVICE overflow)") {
    import spark.implicits._
    // group range = (2^63-1) - (-2^63+1) = 2^64 - 2 > Long.MaxValue: a
    // long `__vmax - __vmin` wraps NEGATIVE, which used to pass the
    // fast-path guard and divide by a negative (non-monotone buckets).
    // The decimal-range guard must route this to the exact fallback and
    // still agree bit-for-bit with the exact tier.
    val rows = Seq(
      ("wide", Long.MinValue + 1, 1L), ("wide", -1000000L, 2L),
      ("wide", 0L, 3L), ("wide", 42L, 1L),
      ("wide", Long.MaxValue - 1, 2L),
      ("narrow", 5L, 4L), ("narrow", 9L, 1L))
      .toDF("g", "v", "w")
    val qs = Seq(0L, 250000L, 500000L, 750000L, 1000000L)
    for (b <- Seq(2, 16)) {
      val exact = GraftOps.weightedQuantiles(rows, col("g"), col("v"),
        col("w"), qs).collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
      val hist = GraftOps.weightedQuantilesHist(rows, col("g"), col("v"),
        col("w"), qs, buckets = b).collect().map(r => (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(hist == exact,
        s"buckets=$b: overflow-range group diverged from exact tier")
    }
  }

  test("mmrRerank: diversity beats near-dup, pure-relevance degenerates, short lists, guards") {
    import spark.implicits._
    // doc 2 is a near-clone of doc 1 (cos ~ 0.9999) with almost its
    // score; doc 3 is orthogonal with half the score
    val cand = Seq(
      (10L, 1L, 0.90, Array(1.0f, 0.0f)),
      (10L, 2L, 0.89, Array(0.9999f, 0.0141f)),
      (10L, 3L, 0.50, Array(0.0f, 1.0f)),
      // second query exercises k > candidates
      (20L, 7L, 0.10, Array(1.0f, 0.0f)))
      .toDF("q", "d", "r", "v")
    def order(lamPpm: Long) =
      GraftOps.mmrRerank(cand, col("q"), col("d"), col("r"), col("v"),
          k = 3, lambdaPpm = lamPpm)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    // λ = 0.5: after picking doc 1, the near-clone's mmr collapses
    // (0.445 − 0.5·0.9999 < 0) while the orthogonal doc keeps 0.25
    val diverse = order(500000L)
    assert(diverse(10L) == Seq(1L, 3L, 2L), s"diversified: $diverse")
    // λ = 1.0: pure relevance — plain score order, clone and all
    val pure = order(1000000L)
    assert(pure(10L) == Seq(1L, 2L, 3L), s"pure relevance: $pure")
    // k exceeding the candidate list returns what exists
    assert(diverse(20L) == Seq(7L), "short lists return all candidates")
    // mmr VALUES are the stated chain: first pick = λ·rel exactly
    val first = GraftOps.mmrRerank(cand, col("q"), col("d"), col("r"),
        col("v"), k = 1, lambdaPpm = 500000L)
      .filter(col("query") === 10L).collect().head
    assert(first.getDouble(3) == 0.5 * 0.90, s"first mmr: $first")
    intercept[IllegalArgumentException] {
      GraftOps.mmrRerank(cand, col("q"), col("d"), col("r"), col("v"),
        0, 500000L)
    }
    intercept[IllegalArgumentException] {
      GraftOps.mmrRerank(cand, col("q"), col("d"), col("r"), col("v"),
        3, 1000001L)
    }
  }

  test("noveltyScore: occurrence mass, all-known, all-new, short doc, guard") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d")).toDF("rid", "rt")
    val docs = Seq(
      (1L, "a b c d"),              // every occurrence known -> 0 ppm
      (2L, "x y z w"),              // nothing known -> 1e6 ppm
      // 7 occurrences: "a b c"×3 known (ref has it), "b c a"×2 and
      // "c a b"×2 unseen -> 4e6 div 7 = 571428 (occurrence MASS — a
      // distinct-shingle count would say 2/3 instead)
      (3L, "a b c a b c a b c"),
      (4L, "a b"))                  // too short for width 3 -> no score
      .toDF("id", "t")
    val got = GraftOps.noveltyScore(docs, col("id"), col("t"), ref,
        col("rt"), width = 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(got(1L) == ((2L, 0L, Some(0L))), s"all-known: ${got(1L)}")
    assert(got(2L) == ((2L, 2L, Some(1000000L))), s"all-new: ${got(2L)}")
    assert(got(3L) == ((7L, 4L, Some(571428L))),
      s"occurrence mass, not distinct types: ${got(3L)}")
    assert(got(4L) == ((0L, 0L, None)), "short doc has no defined novelty")
    intercept[IllegalArgumentException] {
      GraftOps.noveltyScore(docs, col("id"), col("t"), ref, col("rt"), 0)
    }
  }

  test("timeWeightedAvg: holding weights, zero-dur tail, ties, sign, NULL drop") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val pts = Seq(
      // key 1: 10 held 10 s + 20 held 20 s + 5 held 0 (tail) ->
      // (100 + 400)e6 µval·µs over 30e6 µs = 16,666,666 µunits
      (1L, ts(0), 1L, Some(10L)), (1L, ts(10), 2L, Some(20L)),
      (1L, ts(30), 3L, Some(5L)),
      // key 2: single observation -> no average, n/dur still reported
      (2L, ts(5), 1L, Some(99L)),
      // key 3: same-instant tie -> only tiebreak order, zero durations,
      // then 7 held 10 s
      (3L, ts(0), 1L, Some(1L)), (3L, ts(0), 2L, Some(2L)),
      (3L, ts(0), 3L, Some(7L)), (3L, ts(10), 4L, Some(0L)),
      // key 4: negative values exercise the sign split
      (4L, ts(0), 1L, Some(-10L)), (4L, ts(10), 2L, Some(-20L)),
      // key 5: NULL value drops up front -> 10 holds through to 20 s
      (5L, ts(0), 1L, Some(10L)), (5L, ts(10), 2L, None),
      (5L, ts(20), 3L, Some(30L)))
      .toDF("k", "t", "n", "x")
    val got = GraftOps.timeWeightedAvg(pts, col("k"), col("t"), col("x"),
        col("n"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(got(1L) == ((3L, 30000000L, Some(16666666L))), s"k1: ${got(1L)}")
    assert(got(2L) == ((1L, 0L, None)), "single point has no average")
    assert(got(3L) == ((4L, 10000000L, Some(7000000L))),
      s"ties hold zero, last-of-tie holds on: ${got(3L)}")
    assert(got(4L) == ((2L, 10000000L, Some(-10000000L))),
      s"negative twap keeps its sign exactly: ${got(4L)}")
    assert(got(5L) == ((2L, 20000000L, Some(10000000L))),
      s"NULL value drops, prior value holds through: ${got(5L)}")
  }

  test("cusum: hand-checked alarms, restart, two sides, NULL poison, guards") {
    import spark.implicits._
    // target 10, slack 2, threshold 15: drift +8 per high point, +7 per
    // low point; alarms at steps 2 (upward) and 5 (downward), each
    // followed by a restart from 0
    val pts = Seq(
      (1L, 1L, Some(20L)), (1L, 2L, Some(20L)), (1L, 3L, Some(5L)),
      (1L, 4L, Some(1L)), (1L, 5L, Some(1L)), (1L, 6L, Some(1L)),
      (1L, 7L, Some(1L)), (1L, 8L, Some(16L)),
      // NULL poisons the tail, including the re-observed 20
      (2L, 1L, Some(20L)), (2L, 2L, None), (2L, 3L, Some(20L)),
      // a single wild first point can alarm immediately
      (3L, 1L, Some(30L)))
      .toDF("k", "t", "x")
    val got = GraftOps.cusum(pts, col("k"), col("t"), col("x"), col("t"),
        target = 10L, slack = 2L, threshold = 15L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.get(4)), Option(r.get(5)), Option(r.get(6)))))
      .toMap
    val expect1 = Seq(
      1L -> (8L, 0L, false), 2L -> (16L, 0L, true), 3L -> (0L, 3L, false),
      4L -> (0L, 10L, false), 5L -> (0L, 17L, true), 6L -> (0L, 7L, false),
      7L -> (0L, 14L, false), 8L -> (4L, 6L, false))
    expect1.foreach { case (t, (sp, sn, al)) =>
      assert(got((1L, t)) == ((Some(sp), Some(sn), Some(al))),
        s"key1 step $t: ${got((1L, t))}")
    }
    assert(got((2L, 1L)) == ((Some(8L), Some(0L), Some(false))))
    assert(got((2L, 2L)) == ((None, None, None)), "NULL point has no state")
    assert(got((2L, 3L)) == ((None, None, None)), "poisoned tail stays NULL")
    assert(got((3L, 1L)) == ((Some(18L), Some(0L), Some(true))),
      "first point can alarm")
    intercept[IllegalArgumentException] {
      GraftOps.cusum(pts, col("k"), col("t"), col("x"), col("t"), 10L, -1L, 15L)
    }
    intercept[IllegalArgumentException] {
      GraftOps.cusum(pts, col("k"), col("t"), col("x"), col("t"), 10L, 2L, 0L)
    }
  }

  test("prefixRollup: ancestor counts, maxDepth cap, NULL drop, literal sep") {
    import spark.implicits._
    val paths = Seq(
      "a/b/c", "a/b/c", "a/b/d", "a/x", "b", "a/b/c/deep", "/lead", null)
      .toDF("p")
    val got = GraftOps.prefixRollup(paths, col("p"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    // "a" covers 5 non-null rows starting with segment a
    assert(got(("a", 1)) == 5L && got(("a/b", 2)) == 4L &&
      got(("a/b/c", 3)) == 3L && got(("a/b/c/deep", 4)) == 1L,
      s"subtree counts: $got")
    assert(got(("b", 1)) == 1L && got(("a/x", 2)) == 1L)
    // leading separator -> empty first segment, kept honestly
    assert(got(("", 1)) == 1L && got(("/lead", 2)) == 1L,
      "empty segment is a real segment")
    // NULL path contributes nowhere
    assert(got.values.sum ==
      Seq(3, 3, 3, 2, 1, 4, 2).sum, "each non-null row adds depth() rows")
    // maxDepth truncates the expansion, not the rows
    val capped = GraftOps.prefixRollup(paths, col("p"), maxDepth = 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(!capped.keys.exists(_._2 > 2) && capped(("a/b", 2)) == 4L,
      s"maxDepth=2: $capped")
    // "." separator must be literal, not a regex wildcard
    val dotted = Seq("x.y", "xay").toDF("p")
    val d = GraftOps.prefixRollup(dotted, col("p"), sep = ".")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(d == Map(("x", 1) -> 1L, ("x.y", 2) -> 1L, ("xay", 1) -> 1L),
      s"dot separator is literal: $d")
    intercept[IllegalArgumentException] {
      GraftOps.prefixRollup(paths, col("p"), maxDepth = 0)
    }
  }

  test("paretoFrontier: sweep == brute-force domination; directions; NULL drop") {
    import spark.implicits._
    // deterministic pseudo-random points in two groups, with planted
    // duplicates and a NULL row
    val rnd = new scala.util.Random(42)
    val pts = (1 to 200).map { i =>
      (if (i % 2 == 0) "a" else "b",
       Option(rnd.nextInt(50).toLong), Option(rnd.nextInt(50).toLong))
    } ++ Seq(("a", Option(3L), Option.empty[Long]),
             ("a", Option.empty[Long], Option(4L)))
    val df = pts.toDF("g", "x", "y")
    for (mx <- Seq(true, false); my <- Seq(true, false)) {
      val got = GraftOps.paretoFrontier(df, col("g"), col("x"), col("y"),
          mx, my)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      // brute force: distinct non-NULL points minus strictly-dominated
      val dpts = pts.collect { case (g, Some(x), Some(y)) => (g, x, y) }.toSet
      def better(q: Long, p: Long, minimize: Boolean) =
        if (minimize) q <= p else q >= p
      def strictly(q: (String, Long, Long), p: (String, Long, Long)) =
        q._1 == p._1 && better(q._2, p._2, mx) && better(q._3, p._3, my) &&
          (q._2 != p._2 || q._3 != p._3)
      val want = dpts.filter(p => !dpts.exists(q => strictly(q, p)))
      assert(got == want, s"frontier mx=$mx my=$my: ${got.size} vs ${want.size}")
    }
  }

  test("transitionCounts: first-event exclusion, NULL states count, exact ppm") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: A -> B -> A -> NULL -> A (4 transitions incl. null hops)
      (1L, ts("2024-01-01 10:00:00"), 1L, Some("A")),
      (1L, ts("2024-01-01 10:01:00"), 2L, Some("B")),
      (1L, ts("2024-01-01 10:02:00"), 3L, Some("A")),
      (1L, ts("2024-01-01 10:03:00"), 4L, Option.empty[String]),
      (1L, ts("2024-01-01 10:04:00"), 5L, Some("A")),
      // user 2: A -> C, plus a lone-event user 3 feeding nothing
      (2L, ts("2024-01-01 10:00:00"), 6L, Some("A")),
      (2L, ts("2024-01-01 10:01:00"), 7L, Some("C")),
      (3L, ts("2024-01-01 10:00:00"), 8L, Some("A")))
      .toDF("u", "t", "id", "s")
    val got = GraftOps.transitionCounts(ev, col("u"), col("t"), col("s"),
        col("id"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        (r.getLong(2), r.getLong(3))).toMap
    // from A: A->B 1, A->NULL 1, A->C 1 (3 total, 333333 ppm each)
    val want = Map(
      (Some("A"), Some("B")) -> (1L, 333333L),
      (Some("A"), None) -> (1L, 333333L),
      (Some("A"), Some("C")) -> (1L, 333333L),
      (Some("B"), Some("A")) -> (1L, 1000000L),
      (None, Some("A")) -> (1L, 1000000L))
    assert(got == want, s"transition matrix: $got")
  }

  test("ewma: recurrence exactness, tie order, null poisoning, alpha edges") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1L, Some(10.0)),
      ("a", ts("2024-01-01 11:00:00"), 2L, Some(20.0)),
      ("a", ts("2024-01-01 12:00:00"), 3L, Some(40.0)),
      // key b: ts TIE resolved by tiebreak (4 before 5)
      ("b", ts("2024-01-01 10:00:00"), 5L, Some(100.0)),
      ("b", ts("2024-01-01 10:00:00"), 4L, Some(0.0)),
      // key c: NULL poisons the tail
      ("c", ts("2024-01-01 10:00:00"), 6L, Some(10.0)),
      ("c", ts("2024-01-01 11:00:00"), 7L, None),
      ("c", ts("2024-01-01 12:00:00"), 8L, Some(20.0)))
      .toDF("k", "t", "tb", "v")
    val got = GraftOps.ewma(df, col("k"), col("t"), col("v"), col("tb"),
        alphaPpm = 500000L)
      .collect().map(r => r.getLong(2) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    // alpha = 0.5 is exact: 10, 15, 27.5 — bit-equal doubles
    assert(got(1L) == Some(10.0) && got(2L) == Some(15.0) &&
      got(3L) == Some(27.5), s"recurrence: $got")
    // tie order: tb 4 first (s=0), then tb 5: 0.5*100 + 0.5*0 = 50
    assert(got(4L) == Some(0.0) && got(5L) == Some(50.0))
    // null poisons everything after it in the key
    assert(got(6L) == Some(10.0) && got(7L).isEmpty && got(8L).isEmpty)
    // alpha = 1: ewma == value; alpha = 0: frozen at the first value
    val a1 = GraftOps.ewma(df.filter(col("k") === "a"), col("k"), col("t"),
        col("v"), col("tb"), 1000000L).collect()
      .map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(a1 == Map(1L -> 10.0, 2L -> 20.0, 3L -> 40.0))
    val a0 = GraftOps.ewma(df.filter(col("k") === "a"), col("k"), col("t"),
        col("v"), col("tb"), 0L).collect()
      .map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(a0 == Map(1L -> 10.0, 2L -> 10.0, 3L -> 10.0))
    // NULL ts rows DROP up front (no position in the order) and the
    // remaining recurrence folds as if they never existed (review r17)
    val withNullTs = Seq(
      ("a", Some(ts("2024-01-01 10:00:00")), 1L, Some(10.0)),
      ("a", Option.empty[Timestamp], 2L, Some(999.0)),
      ("a", Some(ts("2024-01-01 11:00:00")), 3L, Some(20.0)))
      .toDF("k", "t", "tb", "v")
    val nGot = GraftOps.ewma(withNullTs, col("k"), col("t"), col("v"),
        col("tb"), 500000L).collect()
      .map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(nGot == Map(1L -> 10.0, 3L -> 15.0), s"null-ts drop: $nGot")
  }

  test("corpusDrift: exact chi-square contributions; new/vanished/null categories") {
    import spark.implicits._
    // base mix a:8 b:2 (tb=10); cur mix a:6 b:2 c:2 (tc=10)
    val base = (Seq.fill(8)("a") ++ Seq.fill(2)("b")).toDF("cat")
    val cur = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c"))
      .toDF("cat")
    val out = GraftOps.corpusDrift(base, cur, col("cat"))
      .orderBy("category").collect()
      .map(r => (r.getAs[String]("category"), r.getAs[Long]("n_base"),
        r.getAs[Long]("n_cur"), r.getAs[Long]("base_ppm"),
        r.getAs[Long]("cur_ppm"), r.getAs[Long]("delta_ppm"),
        Option(r.getAs[Any]("chi2_contrib")).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      // exp_a = 10*8/10 = 8 -> (6-8)^2/8 = 0.5
      ("a", 8L, 6L, 800000L, 600000L, -200000L, Some(0.5)),
      ("b", 2L, 2L, 200000L, 200000L, 0L, Some(0.0)),
      // NEW category: no baseline expectation -> chi2 NULL, delta=cur share
      ("c", 0L, 2L, 0L, 200000L, 200000L, None)))
    // a VANISHED category contributes exactly exp ((0-exp)^2/exp = exp)
    val van = GraftOps.corpusDrift(
        (Seq.fill(5)("a") ++ Seq.fill(5)("gone")).toDF("cat"),
        Seq.fill(10)("a").toDF("cat"), col("cat"))
      .filter(col("category") === "gone").collect().head
    assert(van.getAs[Long]("n_cur") == 0L &&
      van.getAs[Double]("chi2_contrib") == 5.0)
    // a NULL category is ONE row (null-safe full-outer join), not two
    val nc = GraftOps.corpusDrift(
        Seq(Some("a"), None, None).toDF("cat"),
        Seq(Some("a"), None).toDF("cat"), col("cat"))
      .filter(col("category").isNull).collect()
    assert(nc.length == 1 &&
      nc.head.getAs[Long]("n_base") == 2L && nc.head.getAs[Long]("n_cur") == 1L)
    // identical snapshots drift nowhere
    val same = GraftOps.corpusDrift(base, base, col("cat")).collect()
    assert(same.forall(r => r.getAs[Long]("delta_ppm") == 0L &&
      r.getAs[Double]("chi2_contrib") == 0.0))
    // an EMPTY snapshot: NULL shares (not a division error), counts
    // still exact
    val eb = GraftOps.corpusDrift(base.filter(lit(false)), cur, col("cat"))
      .orderBy("category").collect()
    assert(eb.length == 3 && eb.forall(r => r.getAs[Long]("n_base") == 0L &&
      r.isNullAt(3) && r.isNullAt(5) && r.isNullAt(6)),
      "empty base: base_ppm/delta/chi2 NULL, counts exact")
    assert(eb.map(_.getAs[Long]("cur_ppm")).toSeq == Seq(600000L, 200000L,
      200000L), "cur shares unaffected by an empty base")
    val ec = GraftOps.corpusDrift(base, cur.filter(lit(false)), col("cat"))
      .collect()
    assert(ec.forall(r => r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6)),
      "empty cur: cur_ppm/delta/chi2 NULL")
  }

  test("quantileNormalize: exact ranks, tie sharing, NULLs pass through rankless") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, Some(10.0)), ("a", 2L, Some(20.0)), ("a", 3L, Some(20.0)),
      ("a", 4L, Some(40.0)), ("a", 5L, Option.empty[Double]),
      ("b", 6L, Some(7.0))) // single-row group -> 0.0
      .toDF("src", "id", "score")
    val out = GraftOps.quantileNormalize(df, col("src"), col("score"))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("qrank")).map(_.asInstanceOf[Double])).toMap
    assert(out(1L).contains(0.0))
    assert(out(2L) == out(3L) && out(2L).contains(1.0 / 3.0),
      "ties share the rank; NULL row consumes none (n=4 ranked rows)")
    assert(out(4L).contains(1.0), "max of the group normalizes to 1")
    assert(out(5L).isEmpty, "NULL score stays NULL")
    assert(out(6L).contains(0.0), "single-row group normalizes to 0")
  }

  test("weightedFixedSample: exact size, weight-proportional odds, exclusions") {
    import spark.implicits._
    // one stratum: 200 light rows (w=1) + 200 heavy rows (w=50)
    val rows = (1L to 200L).map(i => ("s", i, 1.0)) ++
      (201L to 400L).map(i => ("s", i, 50.0)) ++
      Seq(("s", 401L, 0.0), ("s", 402L, -1.0),
        ("s", 403L, Double.NaN)) // never sampled: non-positive
    val df = rows.toDF("src", "id", "w")
    val got = GraftOps.weightedFixedSample(df, col("src"), col("id"),
        col("w"), n = 40).select("id").as[Long].collect()
    assert(got.length == 40, "exactly n per stratum")
    assert(!got.exists(_ >= 401L), "non-positive weights never sample")
    val heavy = got.count(_ > 200L)
    assert(heavy >= 30, s"50x-weighted rows should dominate the sample; got $heavy/40")
    // deterministic: same inputs, same sample
    val again = GraftOps.weightedFixedSample(df, col("src"), col("id"),
        col("w"), n = 40).select("id").as[Long].collect()
    assert(got.sorted.sameElements(again.sorted))
    // monotone-ish law: a stratum with fewer than n eligible rows keeps all
    val tiny = Seq(("t", 1L, 2.0), ("t", 2L, 3.0)).toDF("src", "id", "w")
    assert(GraftOps.weightedFixedSample(tiny, col("src"), col("id"),
      col("w"), n = 10).count() == 2)
    // UNDERFULL stratum + NaN weight: Spark orders NaN above every
    // number, so a bare `w > 0` filter would pass it and — with spare
    // capacity below n — sample it. The contract says it never samples.
    val underfull = Seq(("u", 1L, 2.0), ("u", 2L, Double.NaN),
      ("u", 3L, Double.NaN)).toDF("src", "id", "w")
    val kept = GraftOps.weightedFixedSample(underfull, col("src"),
      col("id"), col("w"), n = 10).select("id").as[Long].collect()
    assert(kept.sameElements(Array(1L)),
      s"NaN weight must never sample, even in an underfull stratum; got ${kept.toSeq}")
  }

  test("robustOutliersApprox tracks the exact tier at fixture scale") {
    // The sketch returns an ACTUAL data value where the exact tier
    // interpolates between adjacent ones, so a row sitting ON the median
    // has a tiny exact score with unbounded RELATIVE error — the
    // meaningful laws are on the group stats and on who gets flagged.
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lang"), col("med"), col("mad")).distinct().collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val ex = GraftOps.robustOutliers(docs, col("lang"), col("n_chars"))
    val ap = GraftOps.robustOutliersApprox(docs, col("lang"), col("n_chars"),
      accuracy = 10000)
    val (se, sa) = (stats(ex), stats(ap))
    assert(se.keySet == sa.keySet)
    se.foreach { case (g, (m1, d1)) =>
      val (m2, d2) = sa(g)
      assert(math.abs(m1 - m2) / m1 < 0.05, s"$g med drifted: $m1 vs $m2")
      assert(math.abs(d1 - d2) / d1 < 0.05, s"$g mad drifted: $d1 vs $d2")
    }
    def flagged(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("score") > 2.0).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    val (fe, fa) = (flagged(ex), flagged(ap))
    val sym = (fe diff fa) ++ (fa diff fe)
    assert(fe.nonEmpty && sym.size <= math.max(2, fe.size / 5),
      s"flagged sets diverged: exact ${fe.size}, approx ${fa.size}, sym ${sym.size}")
  }

  test("robustOutliers: median/MAD scoring, NULL score when MAD is 0") {
    import spark.implicits._
    val df = Seq(
      // group a: values 1..5 + one wild point: med=3, mad=1ish
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0), ("a", 103.0),
      // group b: >half the mass ON the median -> mad=0 -> score NULL
      ("b", 7.0), ("b", 7.0), ("b", 7.0), ("b", 99.0))
      .toDF("g", "v")
    val out = GraftOps.robustOutliers(df, col("g"), col("v"))
    val a = out.filter(col("g") === "a" && col("v") === 103.0).head()
    assert(a.getAs[Double]("med") == 3.5, "exact interpolated median")
    assert(a.getAs[Double]("mad") == 1.5)
    assert(a.getAs[Double]("score") == (103.0 - 3.5) / 1.5)
    val b = out.filter(col("g") === "b")
    assert(b.count() == 4, "degenerate group keeps its rows")
    assert(b.filter(col("score").isNotNull).count() == 0,
      "MAD=0 scores nothing rather than everything")
  }

  test("embeddingNearDup: guarded LSH path finds the same pairs as brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    val distinct = (10L to 25L).map(i => (i, vec()))
    val d1 = vec(); val d2 = vec()
    val rows = distinct ++ Seq(
      (1L, d1), (2L, d1),                                       // exact dup pair
      (3L, d2), (4L, d2.updated(0, d2.head + 0.01f)))           // near-dup pair
    val df = rows.toDF("vid", "v")
    val brute = GraftOps.embeddingNearDup(df, col("vid"), col("v"),
        threshold = 0.95, dim = 8, allowQuadratic = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = GraftOps.embeddingNearDup(df, col("vid"), col("v"),
        threshold = 0.95, dim = 8, quadraticLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.contains((1L, 2L)) && brute.contains((3L, 4L)), s"fixture sanity: $brute")
    assert(lsh == brute, s"guarded path must match brute force: lsh=$lsh brute=$brute")
  }

  test("simhashNearDup rejects radii the chunk scheme cannot cover") {
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("id", "text")
    val e = intercept[IllegalArgumentException](
      GraftOps.simhashNearDup(df, col("id"), col("text"), maxHamming = 4))
    assert(e.getMessage.contains("maxHamming"))
  }

  test("sessionize splits on the gap and respects the tiebreak") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq((1L, ts("2024-01-01 10:00:00"), 1L), (1L, ts("2024-01-01 10:10:00"), 2L),
      (1L, ts("2024-01-01 11:30:00"), 3L)).toDF("u", "t", "eid")
    val out = GraftOps.sessionize(df, col("u"), col("t"),
      gapUs = 30L * 60 * 1000000, tiebreak = col("eid"))
      .orderBy("eid").collect().map(_.getAs[Long]("sess_id"))
    assert(out.toSeq == Seq(1L, 1L, 2L))
  }

  test("saltedJoin equals the plain join (only shuffle layout differs)") {
    import spark.implicits._
    // hot key 1 dominates — the shape salting exists for
    val big = (1 to 500).map(i => (if (i % 10 == 0) i else 1, s"row$i")).toDF("k", "payload")
    val small = Seq((1, "hot"), (10, "ten"), (20, "twenty")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = GraftOps.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "payload", "name").except(plain.select("k", "payload", "name")).count() == 0)
    assert(plain.select("k", "payload", "name").except(salted.select("k", "payload", "name")).count() == 0)
  }

  test("saltedJoin left_outer equals the plain left join; right/full rejected") {
    import spark.implicits._
    // hot key 1 dominates AND keys 3,7,13,… miss the small side entirely —
    // the skewed-left-outer shape (misses must null-extend exactly once,
    // not once per salt)
    val big = (1 to 500).map(i => (if (i % 10 == 0) i else 1, s"row$i")).toDF("k", "payload")
    val small = Seq((1, "hot"), (10, "ten"), (20, "twenty")).toDF("k", "name")
    val plain = big.join(small, Seq("k"), "left_outer")
      .select("k", "payload", "name")
    val salted = GraftOps.saltedJoin(big, small, "k", salts = 8,
      joinType = "left_outer").select("k", "payload", "name")
    assert(salted.count() == plain.count(), "left misses must null-extend once")
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
    // replicated-small-side outer shapes are wrong by construction: loud no
    val e = intercept[IllegalArgumentException](
      GraftOps.saltedJoin(big, small, "k", salts = 8, joinType = "right_outer"))
    assert(e.getMessage.contains("saltedJoin"))
  }

  test("decontaminateBloom is bit-equal to decontaminate; bloom prunes before the join") {
    import spark.implicits._
    // corpus doc 1 shares trigrams with the eval set, 2 and 3 don't; 4 is
    // too short to shingle at all (n_contam must still surface as 0)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),
      (3L, "red green blue cyan magenta"),
      (4L, "tiny")).toDF("id", "body")
    val evalSet = Seq(
      (100L, "gamma delta epsilon zeta"),
      (101L, "totally unrelated benchmark prompt")).toDF("eid", "etext")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "n_contam").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = rows(GraftOps.decontaminate(corpus, col("id"), col("body"),
      evalSet, col("etext"), width = 3))
    val bloomed = rows(GraftOps.decontaminateBloom(corpus, col("id"), col("body"),
      evalSet, col("etext"), width = 3,
      expectedItems = 1 << 10, bloomBits = 1 << 14))
    assert(exact(1L) > 0 && exact(2L) == 0 && exact(4L) == 0, s"fixture sanity: $exact")
    assert(bloomed == exact, "bloom tier must be bit-equal to the exact tier")
    // the tier's reason to exist: a might_contain filter sits on the
    // corpus shingle side BEFORE the confirm join reaches the shuffle
    val plan = GraftOps.decontaminateBloom(corpus, col("id"), col("body"),
      evalSet, col("etext"), width = 3, expectedItems = 1 << 10,
      bloomBits = 1 << 14).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected a bloom pre-filter in the plan:\n$plan")
  }

  test("decontaminateBloom with an empty eval set annotates everything 0") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("id", "body")
    val evalSet = Seq.empty[(Long, String)].toDF("eid", "etext")
    val out = GraftOps.decontaminateBloom(corpus, col("id"), col("body"),
      evalSet, col("etext"), width = 3).collect()
    assert(out.length == 1 && out(0).getAs[Long]("n_contam") == 0L)
  }

  test("multimodal decodeFrames: batched mapPartitions plumbing produces one row per frame") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 250), (2L, "y" * 10)).toDF("doc_id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val frames = graft.operators.MultimodalOps.decodeFrames(
      docs.select(col("doc_id"), col("payload")), frameStride = 100)
    val byDoc = frames.collect().groupBy(_.doc_id)
    assert(byDoc(1L).length == 3, "250 bytes / stride 100 -> 3 frames")
    assert(byDoc(2L).length == 1)
    assert(byDoc(1L).map(_.frame_offset).sorted.toSeq == Seq(0L, 100L, 200L))
    // deterministic fake features: stable across runs
    val again = graft.operators.MultimodalOps.decodeFrames(
      docs.select(col("doc_id"), col("payload")), frameStride = 100)
    assert(frames.collect().map(_.feature).sorted.toSeq ==
      again.collect().map(_.feature).sorted.toSeq)
  }

  test("tfidfTopK ranks rare terms above common ones") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha alpha beta common common"),
      (2L, "gamma beta beta common common"),
      (3L, "delta delta delta common beta")).toDF("d", "body")
    val out = GraftOps.tfidfTopK(df, col("d"), col("body"), k = 2)
    val top = out.filter(col("rk") === 1).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("token")).toMap
    // doc-unique terms (df=1) beat 'common'/'beta' (df=3) at any tf here
    assert(top == Map(1L -> "alpha", 2L -> "gamma", 3L -> "delta"), s"got $top")
  }

  test("stratifiedSample is deterministic and respects per-stratum rates") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toLong, if (i % 2 == 0) "hot" else "cold"))
      .toDF("k", "grp")
    val once = GraftOps.stratifiedSample(df, col("grp"), col("k"),
      Map("hot" -> 100000), defaultPpm = 900000)
    val again = GraftOps.stratifiedSample(df, col("grp"), col("k"),
      Map("hot" -> 100000), defaultPpm = 900000)
    assert(once.select("k").except(again.select("k")).count() == 0 &&
      once.count() == again.count(), "same sample every run")
    val byGrp = once.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp("hot") < 200 && byGrp("hot") > 40, s"hot ~10% of 1000: $byGrp")
    assert(byGrp("cold") > 800, s"cold ~90% of 1000: $byGrp")
  }

  test("packByTokenBudget assigns bins by stream offset per stratum") {
    import spark.implicits._
    val df = Seq((1L, "s", 400), (2L, "s", 400), (3L, "s", 400),
      (4L, "s", 400), (5L, "t", 50)).toDF("id", "src", "nt")
    val out = GraftOps.packByTokenBudget(df, col("src"), col("id"),
        col("nt"), budget = 1000L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("tok_offset"), r.getAs[Long]("bin"))).toMap
    assert(out(1L) == (0L, 0L) && out(2L) == (400L, 0L))
    assert(out(3L) == (800L, 0L), "straddles the cut but starts in bin 0")
    assert(out(4L) == (1200L, 1L), "first doc past the 1000-token cut")
    assert(out(5L) == (0L, 0L), "each stratum has its own stream")
  }

  test("stratifiedFixedSample keeps exactly n per stratum, reproducibly") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("k", "g")
    val once = GraftOps.stratifiedFixedSample(df, col("g"), col("k"), n = 10)
    val counts = once.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 10L, "b" -> 10L), s"got $counts")
    val again = GraftOps.stratifiedFixedSample(df, col("g"), col("k"), n = 10)
    assert(once.select("k").except(again.select("k")).isEmpty, "deterministic")
  }

  test("mixCorpus emits floor(w) copies plus a hash-decided extra, all regimes") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (i.toLong,
      i % 3 match { case 0 => "down"; case 1 => "pass"; case _ => "up" }))
      .toDF("k", "grp")
    val weights = Map("down" -> 500000L, "up" -> 2250000L) // 0.5x / 2.25x
    val out = GraftOps.mixCorpus(df, col("grp"), col("k"), weights,
      defaultPpm = 1000000L)
    val n = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n("pass") == 1000L, s"w=1.0 is a passthrough: $n")
    assert(n("down") > 350 && n("down") < 650, s"w=0.5 halves: $n")
    assert(n("up") > 2050 && n("up") < 2450, s"w=2.25 emits ~2250: $n")
    // per-key copy counts: contiguous 1..n, and every key's count is
    // floor(w) or floor(w)+1
    val perKey = out.filter(col("grp") === "up").groupBy("k")
      .agg(count(lit(1)).as("c"), max("copy_idx").as("m")).collect()
    assert(perKey.forall(r => r.getAs[Long]("c") == r.getAs[Long]("m")),
      "copy_idx is 1..n")
    assert(perKey.forall(r => { val c = r.getAs[Long]("c"); c == 2 || c == 3 }),
      "up-weighted keys emit 2 or 3 copies")
    val again = GraftOps.mixCorpus(df, col("grp"), col("k"), weights,
      defaultPpm = 1000000L)
    assert(out.except(again).isEmpty && again.except(out).isEmpty,
      "deterministic across runs")
  }

  test("shardCorpus spreads keys evenly and reshuffles under a new seed") {
    import spark.implicits._
    val df = (1 to 4000).map(_.toLong).toDF("k")
    val out = GraftOps.shardCorpus(df, col("k"), seed = 7, nShards = 8)
    val counts = out.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0 to 7).toSet, s"all shards populated: $counts")
    assert(counts.values.forall(c => c > 350 && c < 650),
      s"~500 per shard: $counts")
    val again = GraftOps.shardCorpus(df, col("k"), seed = 7, nShards = 8)
    assert(out.except(again).isEmpty, "same seed → identical layout")
    val reseeded = GraftOps.shardCorpus(df, col("k"), seed = 8, nShards = 8)
    val moved = out.select("k", "shard")
      .except(reseeded.select("k", "shard")).count()
    assert(moved > 3000, s"new seed reassigns most keys (moved=$moved)")
  }

  test("mixCorpus/shardCorpus null contract: null strata default, null keys deterministic") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "b"))
      .toDF("k", "grp")
    // null strata never equi-match a weight entry → defaultPpm applies
    val mixed = GraftOps.mixCorpus(df, col("grp"), col("k"),
        Map("a" -> 3000000L), defaultPpm = 1000000L)
      .groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mixed == Map(1L -> 3L, 2L -> 1L, 3L -> 1L),
      s"null stratum falls to the default weight: $mixed")
    // a null KEY hashes to null → the fractional-extra test is null →
    // exactly floor(w) copies, reproducibly (no silent row loss)
    val nullKey = Seq((Option.empty[Long], "a")).toDF("k", "grp")
    val nk = GraftOps.mixCorpus(nullKey, col("grp"), col("k"),
      Map("a" -> 2500000L), defaultPpm = 1000000L).collect()
    assert(nk.length == 2, s"null key emits floor(2.5)=2 copies: ${nk.length}")
    val sharded = GraftOps.shardCorpus(nullKey, col("k"), seed = 1, nShards = 4)
      .collect()
    assert(sharded.length == 1 && sharded(0).isNullAt(
        sharded(0).fieldIndex("shard")),
      "null key yields a null shard (surface it, never invent a bucket)")
  }

  test("writeShardedCorpus lays out shard dirs with in-file shuffle_key order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val df = (1 to 1000).map(i => (i.toLong, s"doc$i")).toDF("k", "body")
    GraftOps.writeShardedCorpus(df, dir, col("k"), seed = 3, nShards = 4)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.sameElements((0 to 3).map(s => s"shard=$s")),
      s"one directory per shard: ${shardDirs.toSeq}")
    // roundtrip: every row lands exactly once
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000 &&
      back.select("k").except(df.select("k")).isEmpty)
    // each data file is internally ordered by shuffle_key (training
    // loaders stream files sequentially — the order IS the shuffle)
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
      .foreach { f =>
        val keys = spark.read.parquet(f.toString)
          .select("shuffle_key").collect().map(_.getLong(0))
        assert(keys.sameElements(keys.sorted), s"unsorted file ${f.getName}")
      }
  }

  test("Observed metrics match recomputed aggregates in one pass") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "grp")
    val (sampled, mIn) = graft.api.Observed(
      GraftOps.stratifiedSample(df, col("grp"), col("k"), Map.empty, 500000),
      "sampled", count(lit(1)).as("rows"))
    val (mixed, mOut) = graft.api.Observed(
      GraftOps.mixCorpus(sampled, col("grp"), col("k"),
        Map("a" -> 2000000L), defaultPpm = 1000000L),
      // observed metrics forbid DISTINCT aggregates; copy_idx==1 marks
      // each surviving doc exactly once, so this counts distinct docs
      "mixed", count(lit(1)).as("rows"),
      count(when(col("copy_idx") === 1, 1)).as("docs"))
    val materialized = mixed.count() // ONE job fires both observations
    assert(mIn.get("rows") == sampled.count(), "stage metric == recount")
    assert(mOut.get("rows") == materialized)
    assert(mOut.get("docs") == sampled.count(),
      "every sampled doc survives a >=1x mix")
  }

  test("redactPii replaces emails and phones and counts them") {
    import spark.implicits._
    val df = Seq((1L, "write to jane.doe@corp.io or bob@x.co, call +1-555-0199 now"))
      .toDF("id", "body")
    val r = GraftOps.redactPii(df, col("body")).collect()(0)
    assert(r.getAs[Int]("n_emails") == 2 && r.getAs[Int]("n_phones") == 1)
    val red = r.getAs[String]("redacted")
    assert(red.contains("<EMAIL>") && red.contains("<PHONE>"))
    assert(!red.contains("@") && !red.contains("555"), s"got: $red")
  }

  test("repetitionScore separates boilerplate from varied text") {
    import spark.implicits._
    val df = Seq(
      (1L, "buy now " * 20),                       // 2-token loop: few distinct trigrams
      (2L, (1 to 40).map(i => s"w$i").mkString(" ")), // all-distinct trigrams
      (3L, "a b"))                                 // shorter than a trigram
      .toDF("id", "body")
    val m = GraftOps.repetitionScore(df, col("body")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("rep_ratio")).toMap
    assert(m(1L) > 0.9, s"looped text must score high: $m")
    assert(m(2L) == 0.0, s"all-distinct text must score zero: $m")
    assert(m(3L) == 0.0, s"sub-trigram text scores zero: $m")
  }

  test("bucketed tables join with zero exchanges (co-located 100TB join shape)") {
    import spark.implicits._
    import graft.api.Bucketing
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val facts = (1 to 5000).map(i => (i.toLong % 97, s"f$i")).toDF("k", "payload")
      val dims = (0L to 96L).map(k => (k, s"dim$k")).toDF("k", "name")
      Bucketing.writeBucketed(facts, "b_facts", "k", 8)
      Bucketing.writeBucketed(dims, "b_dims", "k", 8)
      val joined = Bucketing.bucketedJoin(spark, "b_facts", "b_dims", "k")
      assert(joined.count() == 5000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("ivfTopK with nprobe = all cells recovers exact kNN") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1), (i % 4).toInt))
      .toDF("vid", "v", "lab")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("id"))).toSet
    val exact = rows(GraftOps.knn(vecs, vecs.filter(col("vid") <= 3),
      col("vid"), col("v"), col("vid"), col("v"), k = 3))
    val ivfAll = rows(GraftOps.ivfTopK(vecs, col("vid"), col("v"), col("lab"),
      col("vid") <= 3, k = 3, nprobe = 4))
    assert(ivfAll == exact, s"nprobe=|cells| must equal exact kNN\nivf=$ivfAll\nknn=$exact")
    // nprobe=1 searches one cell: per-probe results are ≤ k contiguous ranks
    val ivf1 = rows(GraftOps.ivfTopK(vecs, col("vid"), col("v"), col("lab"),
      col("vid") <= 3, k = 3, nprobe = 1))
    assert(ivf1.nonEmpty)
    ivf1.groupBy(_._1).foreach { case (p, s) =>
      val ranks = s.map(_._2).toSeq.sorted
      assert(ranks == (1 to ranks.size), s"probe $p ranks not contiguous: $ranks")
      assert(ranks.size <= 3)
    }
  }

  test("dedupClusters resolves pairs into min-survivor components") {
    import spark.implicits._
    // components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {10,11}, singleton pair {20,21}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 7L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val out = GraftOps.dedupClusters(pairs, col("a"), col("b"))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(out == expect, s"got $out")
  }

  test("applyDedup keeps cluster survivors and untouched rows only") {
    import spark.implicits._
    val corpus = Seq((1L, "a"), (2L, "a'"), (3L, "a''"), (10L, "b"),
      (11L, "b'"), (42L, "unique")).toDF("id", "body")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("pa", "pb")
    val kept = GraftOps.applyDedup(corpus, col("id"), pairs, col("pa"), col("pb"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 42L),
      s"min-id survivors + non-clustered rows survive: $kept")
  }

  test("dedupClusters throws rather than returning a non-converged result") {
    import spark.implicits._
    // a path graph 0-1-2-...-9 needs ≥ 2 rounds even with pointer jumping;
    // maxIter=1 cannot finish
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException](
      GraftOps.dedupClusters(chain, col("a"), col("b"), maxIter = 1,
        driverLimit = 0))
  }

  test("dedupClusters resolves a 500-long path graph within default maxIter") {
    import spark.implicits._
    // Chain-shaped components are the adversarial case for plain min-label
    // propagation (O(diameter) rounds — 500 > maxIter=30 would throw).
    // Pointer jumping halves the distance-to-minimum per round, so this
    // must converge in ~log2(500) ≈ 9-10 rounds.
    val chain = (0L until 499L).map(i => (i + 1, i)).toDF("a", "b")
    val out = GraftOps.dedupClusters(chain, col("a"), col("b"),
        driverLimit = 0) // pin the distributed loop — the subject under test
      .collect()
    assert(out.length == 500)
    assert(out.forall(_.getLong(0) == 0L), "every member labels to the min id 0")
    assert(out.map(_.getLong(1)).toSet == (0L until 500L).toSet)
  }

  test("dedupClusters matches a union-find reference on seeded random graphs") {
    import spark.implicits._
    // Property check of the pointer-jumping algorithm against a trivially
    // correct driver-side union-find, across graph shapes that stress
    // different convergence behavior: sparse random, dense random, and a
    // mix of chains+cliques. Seeded — reproducible, no wall-clock/random
    // in the assertion path.
    val rnd = new scala.util.Random(42)
    val shapes = Seq(
      (0 until 300).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)),
      (0 until 800).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)),
      // two 40-chains + one 15-clique + random noise
      (0L until 39L).map(i => (i, i + 1)) ++
        (100L until 139L).map(i => (i, i + 1)) ++
        (for (i <- 200 until 215; j <- (i + 1) until 215) yield (i.toLong, j.toLong)) ++
        (0 until 50).map(_ => (rnd.nextInt(250).toLong, rnd.nextInt(250).toLong)))
    for ((edges, si) <- shapes.zipWithIndex) {
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = parent.keys.map(v => v -> find(v)).toMap
      // BOTH routing paths must agree with the reference (and each other):
      // the distributed pointer-jumping loop and the driver fast path.
      val dist = GraftOps.dedupClusters(edges.toDF("a", "b"), col("a"), col("b"),
          driverLimit = 0)
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      assert(dist == expect, s"shape $si: distributed loop != union-find reference")
      val fast = GraftOps.dedupClusters(edges.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      assert(fast == expect, s"shape $si: driver fast path != union-find reference")
    }
  }

  test("trained kmeans clusters slot into ivfTopK as its coarse quantizer") {
    import spark.implicits._
    // the advertised integration: fit -> assign -> use `cluster` as
    // ivfTopK's label; nprobe = |trained cells| must still equal exact kNN
    val rnd = new scala.util.Random(23)
    val vecs = (1L to 60L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vid", "v")
    val model = GraftOps.kmeansFit(vecs, col("vid"), col("v"), k = 4, iters = 2)
    val tagged = GraftOps.kmeansAssign(vecs, col("v"), model)
    val nCells = model.select("cluster").distinct().count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("id"))).toSet
    val exact = rows(GraftOps.knn(vecs, vecs.filter(col("vid") <= 3),
      col("vid"), col("v"), col("vid"), col("v"), k = 3))
    val viaTrained = rows(GraftOps.ivfTopK(tagged, col("vid"), col("v"),
      col("cluster"), col("vid") <= 3, k = 3, nprobe = nCells))
    assert(viaTrained == exact,
      "ivf over TRAINED cells at nprobe=|cells| must equal exact kNN")
  }

  test("kmeansFit recovers planted blobs and kmeansAssign matches a driver reference") {
    import spark.implicits._
    // Seeds are the k ids with the smallest portable hash — compute them
    // in the test and PLANT one seed inside each blob, so 2 Lloyd rounds
    // must converge to the blob partition (near-orthogonal blob axes).
    val ids = (0L until 30L)
    val seedIds = ids.sortBy(i => (graft.functions.Portable.phashJvm(s"km|$i"), i)).take(3)
    val blobOf: Long => Int = { id =>
      val s = seedIds.indexOf(id)
      if (s >= 0) s else (id % 3).toInt
    }
    val axis = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val rows = ids.map { id =>
      val b = blobOf(id)
      val jit = 0.01f * (id % 5)
      (id, axis(b).zipWithIndex.map { case (v, d) =>
        if (d == 3) jit else v + (if (d == b) 0f else jit * 0.1f) }.toSeq)
    }
    val df = rows.toDF("id", "emb")
    val model = GraftOps.kmeansFit(df, col("id"), col("emb"), k = 3, iters = 2)
    val collected = model.collect()
    assert(collected.map(_.getInt(0)).distinct.sorted.toSeq == Seq(0, 1, 2))
    assert(collected.length == 12, "3 clusters x 4 dims")
    // member counts: n is repeated per dim — each cluster must hold a
    // whole blob (10 rows)
    val ns = collected.map(r => r.getInt(0) -> r.getLong(3)).distinct.toMap
    val planted = ids.groupBy(blobOf).map { case (b, xs) => b -> xs.size.toLong }
    assert(ns == planted, s"cluster sizes $ns must equal planted blob sizes $planted")
    // assignment purity: every row lands in its blob's seed cluster
    val tagged = GraftOps.kmeansAssign(df, col("emb"), model)
      .select(col("id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ids.foreach(id => assert(tagged(id) == blobOf(id),
      s"row $id should sit with seed ${blobOf(id)}: got ${tagged(id)}"))
    // kmeansAssign equals an exact driver-side argmax-dot reference
    val cents = collected.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (c, xs) => c -> xs.sortBy(_._2).map(_._3) }
    rows.foreach { case (id, emb) =>
      val best = cents.toSeq.map { case (c, w) =>
        (emb.zip(w).map { case (x, y) => x.toDouble * y }.sum, c) }
        .maxBy { case (d, c) => (d, -c) }._2
      assert(tagged(id) == best, s"row $id: engine ${tagged(id)} vs reference $best")
    }
    // determinism: an identical second fit produces identical output
    val again = GraftOps.kmeansFit(df, col("id"), col("emb"), k = 3, iters = 2)
      .orderBy("cluster", "dim").collect().toSeq
    assert(model.orderBy("cluster", "dim").collect().toSeq == again)
  }

  test("l2Normalize -> kmeansFit -> kmeansAssign over array<double> vectors") {
    import spark.implicits._
    val df = (0L until 24L).map { id =>
      (id, Seq(1f + id % 3, 0.5f * (id % 4), 2f - id % 2, 0.25f))
    }.toDF("id", "emb")
    val unit = GraftOps.l2Normalize(df, col("emb"))
    val model = GraftOps.kmeansFit(unit, col("id"), col("unit"), k = 3, iters = 2)
    val collected = model.collect()
    assert(collected.map(r => r.getInt(0) -> r.getLong(3)).distinct.map(_._2).sum == 24,
      "every row belongs to exactly one cluster")
    val cents = collected.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (c, xs) => c -> xs.sortBy(_._2).map(_._3) }
    assert(cents.values.forall(_.length == 4))
    // assignment equals a driver-side argmax-dot reference (cluster-asc ties)
    GraftOps.kmeansAssign(unit, col("unit"), model)
      .select(col("id"), col("unit"), col("cluster")).collect().foreach { r =>
        val v = r.getSeq[Double](1)
        val best = cents.toSeq.map { case (c, w) =>
          (v.zip(w).foldLeft(0.0) { case (a, (x, y)) => a + x * y }, c) }
          .maxBy { case (d, c) => (d, -c) }._2
        assert(r.getInt(2) == best, s"row ${r.getLong(0)}")
      }
  }

  test("fast-path applyDedup broadcasts the cluster table, no LocalRelation") {
    import spark.implicits._
    val corpus = spark.range(2000).select(col("id"), (col("id") % 7).as("grp"))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("pa", "pb")
    val out = GraftOps.applyDedup(corpus, col("id"), pairs, col("pa"), col("pb"))
    val physical = out.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin") && physical.contains("LeftAnti"),
      s"small cluster sets must anti-join by broadcast, not shuffle:\n$physical")
    // the resolved clusters must NOT be embedded in the plan as a
    // LocalRelation — a local relation re-serializes its rows into every
    // downstream plan that references the result (round-5 advice)
    val logical = out.queryExecution.optimizedPlan.toString
    assert(!logical.contains("LocalRelation"),
      s"fast-path result must be parallelized, not plan-embedded:\n$logical")
  }

  /** The persistent RDDs that `fit` leaves behind, split into those its
    * returned plan does not reference (stranded: a superseded round, a
    * released intermediate) and those it does (the result's own
    * checkpoint). `Dataset.unpersist()` does not free a checkpoint, so
    * the CacheManager alone cannot see these. */
  private def persistedBy(fit: => org.apache.spark.sql.DataFrame)
      : (Set[Int], Set[Int]) = {
    val before = persistentIds
    val out = fit
    val left = persistentIds -- before
    val refs = org.apache.spark.sql.graftbridge.CheckpointBridge
      .leafRdds(out).map(_.id).toSet
    (left -- refs, left & refs)
  }

  /** The persistent RDDs a throwing `fit` leaves behind. */
  private def persistedByThrow[T <: AnyRef](fit: => Any)(
      implicit ct: scala.reflect.ClassTag[T]): Set[Int] = {
    val before = persistentIds
    intercept[T](fit)
    persistentIds -- before
  }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("dedupClusters/applyDedup leave no catalog-level cache behind") {
    import spark.implicits._
    spark.catalog.clearCache()
    val corpus = Seq((1L, "a"), (2L, "a'"), (3L, "b"), (9L, "c")).toDF("id", "body")
    val pairs = Seq((1L, 2L)).toDF("pa", "pb")
    val kept = GraftOps.applyDedup(corpus, col("id"), pairs, col("pa"), col("pb"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 9L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "library contract: no persisted frame outlives the call")
    // the distributed rounds keep only the checkpoint the result reads
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val (stranded, survivors) = persistedBy(
      GraftOps.dedupClusters(chain, col("a"), col("b"), driverLimit = 0))
    assert(stranded.isEmpty && survivors.size <= 1,
      s"rounds left behind: stranded $stranded, survivors $survivors")
    // the throw path must also drop its caches and every round
    val left = persistedByThrow[IllegalStateException](
      GraftOps.dedupClusters(chain, col("a"), col("b"), maxIter = 1,
        driverLimit = 0))
    assert(spark.sharedState.cacheManager.isEmpty,
      "non-convergence throw must unpersist its rounds")
    assert(left.isEmpty, s"non-convergence throw left RDDs $left")
  }

  test("iterative fits keep only the checkpoints their result references") {
    import spark.implicits._
    val graph = ((for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) ++
      Seq((4L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))).toDF("s", "t")
    val words = Seq(Seq("low", "low", "lower"), Seq("newest", "widest"))
      .toDF("toks")
    val text = Seq("aa ab aa ba", "ab ab aa cc", "ba aa ab dd").toDF("text")
    val labeled = (0 until 40).map(i =>
      (Seq((i % 7).toFloat, (i % 5).toFloat), i % 3 == 0)).toDF("v", "y")
    val fits = Seq[(String, () => org.apache.spark.sql.DataFrame, Int)](
      ("linkRank", () => GraftOps.linkRank(graph, col("s"), col("t"),
        iterations = 5), 1),
      ("kCore", () => GraftOps.kCore(graph, col("s"), col("t"), k = 2,
        maxRounds = 10), 1),
      ("bpeFit", () => GraftOps.bpeFit(words, col("toks"), nMerges = 8), 0),
      ("unigramFit", () => GraftOps.unigramFit(text,
        graft.functions.Text.tokens(col("text")), vocabSize = 8, iters = 2,
        maxPieceLen = 2, topWords = 10, maxWordLen = 5), 1),
      ("logisticFit", () => GraftOps.logisticFit(labeled, col("v"), col("y"),
        2, iters = 3, lambdaPpm = 1000L), 0))
    val leaks = fits.flatMap { case (name, fit, maxSurvivors) =>
      val (stranded, survivors) = persistedBy(fit())
      if (stranded.isEmpty && survivors.size <= maxSurvivors) None
      else Some(s"$name: stranded $stranded, survivors $survivors")
    }
    // the vocabSize guard fires after the word, mass and singles
    // checkpoints exist: the throw path must free all of them
    val left = persistedByThrow[IllegalArgumentException](
      GraftOps.unigramFit(text, graft.functions.Text.tokens(col("text")),
        vocabSize = 2, iters = 1, maxPieceLen = 2))
    val throwLeaks =
      if (left.isEmpty) Nil else Seq(s"unigramFit vocabSize guard: $left")
    assert(leaks.isEmpty && throwLeaks.isEmpty,
      (leaks ++ throwLeaks).mkString("; "))
  }

  test("embeddingNearDup LSH path reports null vectors readably") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("id", "v")
    val ex = intercept[Throwable] {
      // sizeHint forces the LSH path without an eager count
      GraftOps.embeddingNearDup(df, col("id"), col("v"), threshold = 0.9,
        dim = 2, sizeHint = Some(1000000L)).collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("got null"),
      s"null vec must produce a readable diagnostic, not a blank error:\n$msgs")
  }

  test("asofJoin matches a driver-side reference on seeded random data") {
    import spark.implicits._
    // Random quotes/trades over few keys with COLLIDING timestamps — the
    // reference picks, per trade, the latest quote at-or-before its ts
    // (greatest seq wins ties), which is exactly the documented contract.
    val rnd = new scala.util.Random(7)
    val quotes = (1 to 120).map { i =>
      (rnd.nextInt(4).toLong, new Timestamp(1700000000000L + rnd.nextInt(50) * 1000L),
        rnd.nextInt(1000).toDouble, i.toLong)
    }
    val trades = (1 to 150).map { i =>
      (rnd.nextInt(5).toLong, new Timestamp(1700000000000L + rnd.nextInt(60) * 1000L), i)
    }
    val expect = trades.map { case (k, t, i) =>
      val m = quotes.filter(q => q._1 == k && !q._2.after(t))
        .sortBy(q => (q._2.getTime, q._4)).lastOption
      (k, t.getTime, i) -> m.map(_._3)
    }.toMap
    val out = GraftOps.asofJoin(
        quotes.toDF("sym", "t", "px", "seq"), trades.toDF("sym", "t", "qty"),
        "sym", "t", tiebreak = Some("seq"))
      .collect().map { r =>
        (r.getAs[Long]("sym"), r.getAs[Timestamp]("t").getTime, r.getAs[Int]("qty")) ->
          Option(r.getAs[Any]("asof_px")).map(_.asInstanceOf[Double])
      }.toMap
    assert(out.size == trades.size, "every trade surfaces exactly once")
    assert(out == expect, "asofJoin diverges from the reference")
  }

  test("ngramJaccard one-pass candidate core matches the df-cap brute force (r22)") {
    import spark.implicits._
    val words = Vector("red", "blue", "green", "stone", "river", "cloud",
      "amber", "pine", "flint", "moss")
    def doc(seed: Int, n: Int): String =
      (0 until n).map(i => words((seed * 5 + i * 7) % words.size)).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, doc(i, 14)))
    val dups = (0 until 6).map(i =>
      (200L + i, base(i * 5)._2.replaceFirst("\\S+$", "kappa")))
    val df = (base ++ dups).toDF("id", "text").repartition(5)
    val (cap, thr) = (8, 0.4) // low cap: hot shingles really overflow
    val got = GraftOps.ngramJaccard(df, col("id"), col("text"),
        shingleWidth = 3, dfCap = cap, threshold = thr)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // reference: df-cap on posting rows, then pairwise exact Jaccard of
    // the CAPPED sets — the q18 contract the one-pass form must preserve
    val sets = (base ++ dups).map { case (i, t) =>
      i -> spark.range(1).select(graft.functions.ShingleHashes.asColumn(
          graft.functions.Text.tokens(lit(t)), 3).as("s"))
        .collect().head.getSeq[Long](0).toSet
    }.toMap
    val dfreq = sets.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    val rare: Set[Long] = dfreq.filter(_._2 <= cap).keySet.toSet
    val capped = sets.map { case (i, s) => i -> (s intersect rare) }
    val want = (for {
      a <- capped.keys; b <- capped.keys if a < b
      inter = (capped(a) intersect capped(b)).size if inter > 0
      j = inter.toDouble / (capped(a).size + capped(b).size - inter)
      if j >= thr
    } yield (a, b) -> j).toMap
    assert(want.nonEmpty, "fixture must plant qualifying pairs")
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("ngramContainment flags doc-inside-doc that Jaccard misses") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 80).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, small),                     // contained verbatim in 2
      (2L, s"$filler $small"),         // container
      (3L, "totally different words about cooking pasta tonight friends"))
      .toDF("id", "text")
    val cont = GraftOps.ngramContainment(df, col("id"), col("text"),
        threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("contained_id"),
        r.getAs[Long]("container_id"), r.getAs[Double]("containment")))
    assert(cont.map(c => (c._1, c._2)).toSet == Set((1L, 2L)),
      s"1 is contained in 2, nothing else: ${cont.toSeq}")
    assert(cont.head._3 == 1.0, "verbatim embedding -> containment exactly 1")
    // the same pair is INVISIBLE to Jaccard at any useful threshold:
    // union is dominated by the container's filler
    val jac = GraftOps.ngramJaccard(df, col("id"), col("text"),
      threshold = 0.3)
    assert(jac.count() == 0, "Jaccard misses the asymmetric case by design")
  }

  test("asofJoin FORWARD+tolerance matches a driver-side reference on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val quotes = (1 to 120).map { i =>
      (rnd.nextInt(4).toLong, new Timestamp(1700000000000L + rnd.nextInt(50) * 1000L),
        rnd.nextInt(1000).toDouble, i.toLong)
    }
    val trades = (1 to 150).map { i =>
      (rnd.nextInt(5).toLong, new Timestamp(1700000000000L + rnd.nextInt(60) * 1000L), i)
    }
    val tolUs = 8L * 1000 * 1000 // 8 s
    // reference: earliest quote at-or-after, greatest seq on (ts) ties,
    // nulled when farther than the tolerance
    val expect = trades.map { case (k, t, i) =>
      val m = quotes.filter(q => q._1 == k && !q._2.before(t))
        .sortBy(q => (-q._2.getTime, q._4)).lastOption
        .filter(q => (q._2.getTime - t.getTime) * 1000L <= tolUs)
      (k, t.getTime, i) -> m.map(_._3)
    }.toMap
    val out = GraftOps.asofJoin(
        quotes.toDF("sym", "t", "px", "seq"), trades.toDF("sym", "t", "qty"),
        "sym", "t", tiebreak = Some("seq"), forward = true, toleranceUs = tolUs)
      .collect().map { r =>
        (r.getAs[Long]("sym"), r.getAs[Timestamp]("t").getTime, r.getAs[Int]("qty")) ->
          Option(r.getAs[Any]("asof_px")).map(_.asInstanceOf[Double])
      }.toMap
    assert(out.size == trades.size, "tolerance never drops rows")
    assert(out == expect, "forward asofJoin diverges from the reference")
  }

  test("interpolate matches a driver-side reference on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val step = 3600000000L // 1 h in us
    val events = (1 to 400).map { _ =>
      (rnd.nextInt(5).toLong,
        new Timestamp(1700000000000L + rnd.nextInt(72) * 600000L), // 12 h span
        if (rnd.nextInt(10) == 0) Option.empty[Double]
        else Some(rnd.nextInt(10000) / 100.0))
    }
    // driver-side reference mirroring the documented contract exactly
    val byKey = events.groupBy(_._1)
    val expect = byKey.flatMap { case (k, evs) =>
      val buckets = evs.map(e => (e._2.getTime * 1000L) / step)
      val (mn, mx) = (buckets.min, buckets.max)
      val byBucket = evs.groupBy(e => (e._2.getTime * 1000L) / step)
      // NULL values count toward n but contribute no cents (sum skips
      // nulls, count counts every row in the bucket — the op's contract)
      val obs: Map[Long, (Long, Option[Double])] = byBucket.map { case (b, es) =>
        val known = es.flatMap(_._3.map(v => math.floor(v * 100).toLong))
        b -> (es.size.toLong,
          if (known.isEmpty) None
          else Some(known.sum.toDouble / 100.0 / es.size.toDouble))
      }
      (mn to mx).map { b =>
        val (n, v) = obs.getOrElse(b, (0L, None))
        val prev = (mn to b).reverse.find(x => obs.get(x).exists(_._2.isDefined))
        val next = (b to mx).find(x => obs.get(x).exists(_._2.isDefined))
        val value = v.orElse((prev, next) match {
          case (Some(p), Some(nx)) =>
            val pv = obs(p)._2.get; val nv = obs(nx)._2.get
            Some(pv + (nv - pv) * ((b - p).toDouble / (nx - p).toDouble))
          case (Some(p), None) => Some(obs(p)._2.get)
          case (None, Some(nx)) => Some(obs(nx)._2.get)
          case _ => None
        })
        (k, b) -> (n, value)
      }
    }
    val out = GraftOps.interpolate(events.toDF("k", "t", "v"),
        col("k"), col("t"), col("v"), stepUs = step)
      .collect().map { r =>
        (r.getAs[Long]("key"), r.getAs[Long]("bucket")) ->
          (r.getAs[Long]("n"),
            Option(r.getAs[Any]("value")).map(_.asInstanceOf[Double]))
      }.toMap
    assert(out.keySet == expect.keySet, "spine coverage matches")
    expect.foreach { case (kb, (n, v)) =>
      assert(out(kb)._1 == n, s"n mismatch at $kb")
      (out(kb)._2, v) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) < 1e-9, s"value mismatch at $kb: $a vs $b")
        case (a, b) => assert(a == b, s"nullity mismatch at $kb: $a vs $b")
      }
    }
  }

  test("sessionize matches a driver-side gap-split reference on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val events = (1 to 200).map { i =>
      (rnd.nextInt(5).toLong,
        new Timestamp(1700000000000L + rnd.nextInt(2000) * 1000L), i.toLong)
    }
    val gapUs = 120L * 1000000 // 120 s
    // reference: sort per key by (ts, seq), split when gap exceeded
    val expect = events.groupBy(_._1).flatMap { case (k, es) =>
      val sorted = es.sortBy(e => (e._2.getTime, e._3))
      var sess = 0L
      var prev = Long.MinValue
      sorted.map { e =>
        if (prev == Long.MinValue || (e._2.getTime - prev) * 1000 > gapUs) sess += 1
        prev = e._2.getTime
        (k, e._3) -> sess
      }
    }.toMap
    val out = GraftOps.sessionize(events.toDF("u", "t", "seq"),
        col("u"), col("t"), gapUs, col("seq"))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("seq")) ->
        r.getAs[Long]("sess_id")).toMap
    assert(out == expect, "sessionize diverges from the gap-split reference")
  }

  test("packByTokenBudget invariants hold on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val docs = (1 to 300).map(i =>
      (i.toLong, s"src${rnd.nextInt(4)}", 1 + rnd.nextInt(400)))
    val budget = 1000L
    val rows = GraftOps.packByTokenBudget(docs.toDF("id", "src", "n"),
        col("src"), col("id"), col("n"), budget)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[Long]("id"),
        r.getAs[Int]("n"), r.getAs[Long]("tok_offset"), r.getAs[Long]("bin")))
    assert(rows.length == docs.length)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_._2)
      // offsets are the exact running sum in id order, bins are offset/budget
      var acc = 0L
      sorted.foreach { case (_, id, n, off, bin) =>
        assert(off == acc, s"$src/$id offset $off != running sum $acc")
        assert(bin == off / budget, s"$src/$id bin mismatch")
        acc += n
      }
      // bins are contiguous from 0
      val bins = sorted.map(_._5).distinct.sorted.toVector
      assert(bins == (0L to bins.last).toVector,
        s"$src bins not contiguous: $bins")
    }
  }

  test("knn matches a driver-side brute-force reference on seeded random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val corpus = (1L to 80L).map(i => (i, vec()))
    val probes = corpus.filter(_._1 <= 5).map { case (i, v) => (i, v) }
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      // sequential left-to-right double folds — CosineSim's exact recipe
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p.toDouble * q.toDouble }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val expect = probes.flatMap { case (pid, pv) =>
      corpus.filter(_._1 != pid)
        .map { case (cid, cv) => (cid, cosine(pv, cv)) }
        .sortBy { case (cid, s) => (-s, cid) } // sim desc, id asc — knn's order
        .take(3).zipWithIndex
        .map { case ((cid, s), rk) => (pid, cid) -> ((rk + 1), s) }
    }.toMap
    val out = GraftOps.knn(corpus.toDF("cid", "cv"), probes.toDF("pid", "pv"),
        col("cid"), col("cv"), col("pid"), col("pv"), k = 3)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("id")) ->
        ((r.getAs[Int]("rank"), r.getAs[Double]("sim")))).toMap
    assert(out.size == expect.size)
    expect.foreach { case (k2, (rk, s)) =>
      val (ork, os) = out(k2)
      assert(ork == rk && os == s, s"$k2: got ($ork,$os) want ($rk,$s)")
    }
  }

  test("decontaminate counts distinct shared n-grams against the eval set") {
    import spark.implicits._
    val eval = Seq((900L, "the quick brown fox jumps over the lazy dog"))
      .toDF("eid", "etext")
    val corpus = Seq(
      (1L, "a sentence with the quick brown fox inside it"), // shares 2 trigrams
      (2L, "quick brown fox"),                               // shares exactly 1
      (3L, "completely unrelated words about cooking pasta"),
      (4L, "the quick brown fox appears twice here the quick brown fox"))
      .toDF("id", "body")
    val out = GraftOps.decontaminate(corpus, col("id"), col("body"),
        eval, col("etext"), width = 3)
      .select("id", "n_contam")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: trigrams "the quick brown", "quick brown fox" → 2
    // doc 2: only "quick brown fox" → 1; doc 3: none → 0
    // doc 4: repeats don't double-count (distinct shingles) → 2
    assert(out == Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 2L), s"got $out")
  }

  test("redactPii phone boundaries: no matches inside longer digit runs") {
    import spark.implicits._
    val df = Seq(
      (1L, "version 10.123.45678 shipped"),        // digit tail — not a phone
      (2L, "ticket 987-654-32101 open"),           // digit tail — not a phone
      (3L, "call 555.123.4567 now"),               // real phone, dot separators
      (4L, "call (555) 123-4567 now"),             // real phone, parens area
      (5L, "+1-555-0042"),                         // whole-string phone
      (6L, "v10.123.4567 build"))                  // preceded by '.' run — not a phone
      .toDF("id", "text")
    val out = GraftOps.redactPii(df, col("text"))
      .select("id", "n_phones", "redacted")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out(1L) == (0, "version 10.123.45678 shipped"))
    assert(out(2L) == (0, "ticket 987-654-32101 open"))
    assert(out(3L) == (1, "call <PHONE> now"))
    assert(out(4L) == (1, "call <PHONE> now"))
    assert(out(5L) == (1, "<PHONE>"))
    assert(out(6L) == (0, "v10.123.4567 build"))
  }

  test("decodeImages: real JDK ImageIO decode of PNG/BMP payloads, corrupt-safe") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // real encoded images, built in-test: a solid-color PNG and a
    // two-tone BMP whose mean luma is analytically exact
    def encoded(w: Int, h: Int, fmt: String)(pix: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK must encode $fmt")
      bos.toByteArray
    }
    val solid = encoded(8, 4, "png")((_, _) => 0x406080) // r=64 g=96 b=128
    val twoTone = encoded(4, 4, "bmp")((x, _) => if (x < 2) 0x000000 else 0xffffff)
    val corrupt = Array[Byte](1, 2, 3, 4)
    val df = Seq((1L, solid), (2L, twoTone), (3L, corrupt))
      .toDF("doc_id", "payload")
    val out = graft.operators.MultimodalOps.decodeImages(df)
      .collect().map(d => d.doc_id -> d).toMap
    assert(out(1L).ok && out(1L).width == 8 && out(1L).height == 4 &&
      out(1L).n_pixels == 32L)
    assert(out(1L).mean_luma == (64 + 96 + 128) / 3.0, "solid color is exact")
    assert(out(2L).ok && out(2L).mean_luma == 127.5, "half black half white")
    assert(!out(3L).ok && out(3L).n_pixels == 0L,
      "a corrupt payload degrades to ok=false, never kills the task")
  }

  test("decodeGifFrames: q51's synthetic-GIF roundtrip is encoder-exact, corrupt-safe") {
    import spark.implicits._
    // the q51 contract, stated analytically: syntheticGif(id) has
    // (id%4+2) constant-gray frames at (id%7+2)x(id%5+2), gray value
    // (id*31 + f*17) % 256 — a 1-color palette roundtrips bit-exact
    val ids = Seq(0L, 3L, 5L, 11L, 26L)
    val df = ids.map(id => (id, graft.operators.MultimodalOps.syntheticGif(id)))
      .toDF("doc_id", "payload")
    val out = graft.operators.MultimodalOps.decodeGifFrames(df, everyNth = 2)
      .collect().map(f => (f.doc_id, f.frame_idx) -> f).toMap
    ids.foreach { id =>
      val frames = (0 until (id % 4 + 2).toInt).filter(_ % 2 == 0)
      assert(out.keys.count(_._1 == id) == frames.size,
        s"doc $id: everyNth=2 keeps exactly frames ${frames.mkString(",")}")
      frames.foreach { f =>
        val r = out((id, f))
        assert(r.ok && r.width == (id % 7 + 2).toInt && r.height == (id % 5 + 2).toInt)
        assert(r.mean_luma == ((id * 31 + f * 17) % 256).toDouble,
          s"doc $id frame $f: constant-gray luma is encoder-exact")
      }
    }
    // corrupt payload: one counted ok=false row, no task failure
    val bad = graft.operators.MultimodalOps.decodeGifFrames(
      Seq((99L, Array[Byte](7, 7, 7))).toDF("doc_id", "payload")).collect()
    assert(bad.length == 1 && !bad(0).ok)
  }

  test("topQuantileFilter keeps >= (1-q) per stratum and every threshold tie") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf001, "documents")
      .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
    val kept = graft.api.GraftOps.topQuantileFilter(d, col("source"),
      col("n_tokens"), quantile = 0.7).collect()
    val total = d.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.nonEmpty)
    kept.groupBy(_.getAs[String]("source")).foreach { case (s, rows) =>
      val thr = rows.head.getAs[Double]("q_threshold")
      assert(rows.forall(_.getAs[Double]("q_threshold") == thr),
        s"$s: one threshold per stratum")
      assert(rows.forall(_.getAs[Int]("n_tokens").toDouble >= thr),
        s"$s: every survivor clears the threshold")
      assert(rows.length >= math.ceil(0.3 * total(s)).toInt - 1,
        s"$s: kept ${rows.length} of ${total(s)} — below the (1-q) floor")
    }
    // the filter must actually drop something (fixture sanity)
    assert(kept.length < total.values.sum)
  }

  test("gapFill: contiguous per-key spine, conserved counts, zeros where silent") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sf001, "events")
    val out = graft.api.GraftOps.gapFill(ev, col("user_id"), col("ts"),
      stepUs = 3600000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byKey = out.groupBy(_._1)
    val evCounts = ev.groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byKey.keySet == evCounts.keySet, "every key with events gets a spine")
    byKey.foreach { case (k, rows) =>
      val buckets = rows.map(_._2).sorted
      assert(buckets.last - buckets.head + 1 == buckets.length &&
        buckets.distinct.length == buckets.length,
        s"key $k: spine must be contiguous [min..max] with no dup buckets")
      assert(rows.map(_._3).sum == evCounts(k),
        s"key $k: bucket counts must conserve the key's event count")
    }
    assert(out.exists(_._3 == 0L),
      "fixture must exercise silent buckets (n = 0 rows)")
  }

  test("withViolations names every failed check; NULL results count as violations") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "good text", 10),
      (2L, "", 10),
      (3L, "x", 200),
      (4L, null.asInstanceOf[String], 10)).toDF("id", "text", "n")
    val out = graft.api.GraftOps.withViolations(df, Seq(
        "nonempty" -> (length(trim(col("text"))) > 0),
        "cap" -> (col("n") <= 120)))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[String](3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((Seq(), true)))
    assert(out(2L) == ((Seq("nonempty"), false)))
    assert(out(3L) == ((Seq("cap"), false)))
    assert(out(4L) == ((Seq("nonempty"), false)),
      "an unevaluable (NULL) constraint must count as a violation")
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.withViolations(df, Seq("a" -> lit(true), "a" -> lit(false)))
    }
  }

  test("applyMixture keeps exactly the rows whose mixw-bucket clears the planned rate") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf001, "documents")
      .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
    val rates = graft.api.GraftOps.mixtureRates(d, col("source"), col("n_tokens"),
      Map("src0" -> 300000, "src1" -> 200000), defaultSharePpm = 40000,
      budgetTokens = 20000L)
    val plan = rates.collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("rate_ppm")).toMap
    assert(plan.nonEmpty && plan.values.forall(p => p >= 0 && p <= 1000000))
    // every source's target is bounded by its share of the budget; a
    // saturated source (rate = 1e6) must surface its deficit
    rates.collect().foreach { r =>
      if (r.getAs[Long]("rate_ppm") == 1000000L)
        assert(r.getAs[Long]("deficit_tokens") ==
          math.max(0L, r.getAs[Long]("target_tokens") - r.getAs[Long]("total_tokens")))
      else assert(r.getAs[Long]("deficit_tokens") == 0L)
    }
    val kept = graft.api.GraftOps.applyMixture(d, col("source"), col("doc_id"), rates)
    assert(kept.schema == d.schema, "applyMixture must preserve the input schema")
    // independent reference: keep iff the mixw-hash bucket < the source's rate
    val expected = d.withColumn("__b",
        pmod(graft.functions.Portable.phash(
          concat(lit("mixw|"), col("doc_id").cast("string"))), lit(1000000L)))
      .collect().filter(r => r.getAs[Long]("__b") <
        plan(r.getAs[String]("source"))).map(_.getAs[Long]("doc_id")).toSet
    assert(kept.collect().map(_.getAs[Long]("doc_id")).toSet == expected)
  }

  test("applyMixture leaves a pre-existing user rate_ppm column untouched") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf001, "documents")
      .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
    val rates = graft.api.GraftOps.mixtureRates(d, col("source"), col("n_tokens"),
      Map("src0" -> 300000), defaultSharePpm = 40000, budgetTokens = 20000L)
    // the user's own rate_ppm must survive (the joined plan rate rides a
    // reserved alias, so drop() can't eat the user column)
    val userCol = d.withColumn("rate_ppm", lit(42L))
    val kept = graft.api.GraftOps.applyMixture(userCol, col("source"),
      col("doc_id"), rates)
    assert(kept.schema == userCol.schema)
    val vals = kept.select("rate_ppm").distinct().collect().map(_.getLong(0))
    assert(vals.toSeq == Seq(42L), s"user rate_ppm clobbered: ${vals.toSeq}")
  }

  test("gapFill excludes NULL keys/timestamps from spine AND counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq[(java.lang.Long, String)](
        (1L, "2024-01-01 00:30:00"),
        (1L, "2024-01-01 02:30:00"),
        (1L, null),                        // NULL ts on a live key
        (null, "2024-01-01 01:30:00"))     // NULL key
      .toDF("k", "s").withColumn("ts", to_timestamp(col("s")))
    val out = graft.api.GraftOps.gapFill(df, col("k"), col("ts"),
      stepUs = 3600000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only key 1 gets a spine (NULL keys excluded), 3 contiguous buckets,
    // and sum(n) == the key's NON-NULL events (2, not 3) — the conserved-
    // counts invariant is over rows that can land in a bucket at all
    assert(out.map(_._1).toSet == Set(1L))
    assert(out.length == 3 && out.map(_._3).sum == 2L)
    assert(out.count(_._3 == 0L) == 1)
  }

  test("gapFill maxBucketsPerKey fails loudly naming the offending key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "2024-01-01 00:30:00"), (1L, "2024-01-01 02:30:00"),
        (2L, "2024-01-01 00:45:00"))
      .toDF("k", "s").withColumn("ts", to_timestamp(col("s")))
    // key 1 spans 3 hourly buckets; a cap of 2 must fail and SAY which key
    val e = intercept[Exception] {
      graft.api.GraftOps.gapFill(df, col("k"), col("ts"),
        stepUs = 3600000000L, maxBucketsPerKey = 2L).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("gapFill: key 1 spans 3 buckets"),
      s"guard must name the key and span; got: $msg")
    // at or under the cap the guard is inert: identical output
    val guarded = graft.api.GraftOps.gapFill(df, col("k"), col("ts"),
      stepUs = 3600000000L, maxBucketsPerKey = 3L).collect().toSet
    val free = graft.api.GraftOps.gapFill(df, col("k"), col("ts"),
      stepUs = 3600000000L).collect().toSet
    assert(guarded == free)
  }

  test("assignSplits: partition of the key space, stable under repartition, loud validation") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf001, "documents")
    val splits = Seq("train" -> 800000, "valid" -> 100000, "test" -> 100000)
    val out = graft.api.GraftOps.assignSplits(d, col("doc_id"), splits)
    val byName = out.groupBy("split").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    // ppms sum to exactly 1e6 -> a PARTITION: no NULL split, all named
    assert(!byName.contains(None), s"unexpected unassigned rows: $byName")
    assert(byName.keys.flatten.toSet == splits.map(_._1).toSet)
    val n = d.count().toDouble
    splits.foreach { case (name, ppm) =>
      val frac = byName(Some(name)).toDouble / n
      assert(math.abs(frac - ppm / 1e6) < 0.06,
        f"$name fraction $frac%.3f far from ${ppm / 1e6}%.3f")
    }
    // membership is a pure function of the key: physical layout changes nothing
    val a = out.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = graft.api.GraftOps.assignSplits(d.repartition(7), col("doc_id"), splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "split membership must be layout-independent")
    // loud validation: over-full ranges, duplicate names, column collision
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.assignSplits(d, col("doc_id"), Seq("a" -> 900000, "b" -> 200000))
    }
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.assignSplits(d, col("doc_id"), Seq("a" -> 1000, "a" -> 1000))
    }
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.assignSplits(d.withColumn("split", lit("x")), col("doc_id"),
        Seq("a" -> 1000))
    }
  }

  test("corpusDiff: four statuses, NULL content is presence not absence") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val old = Seq[(Long, String)]((1L, "a"), (2L, "b"), (3L, "c"), (4L, null),
        (5L, null)).toDF("id", "txt")
    val neu = Seq[(Long, String)]((1L, "a"), (2L, "B2"), (4L, null), (5L, "now"),
        (6L, "new")).toDF("id", "txt")
    val got = graft.api.GraftOps.corpusDiff(old, neu, col("id"), col("id"),
        col("txt"), col("txt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "unchanged",  // same content
      2L -> "changed",    // content differs
      3L -> "removed",    // gone from v2
      4L -> "unchanged",  // NULL -> NULL: present both sides, null-safe equal
      5L -> "changed",    // NULL -> value
      6L -> "added"))     // new key
  }

  test("l2Normalize: unit norms, zero-vector NULLs, routing-assumption closure") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
        (1L, Array(3.0f, 4.0f, 0.0f)),
        (2L, Array(0.0f, 0.0f, 0.0f)),   // zero norm -> NULL components
        (3L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("id", "v")
    val out = graft.api.GraftOps.l2Normalize(df, col("v"))
      .select(col("id"), col("unit")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[java.lang.Double](1))).toMap
    assert(out(1L).get.map(_.doubleValue) == Seq(0.6, 0.8, 0.0))
    assert(out(3L).get.map(_.doubleValue) == Seq(-1.0, 0.0, 0.0))
    assert(out(2L).get.forall(_ == null),
      s"zero-norm vector must yield NULL components, got ${out(2L)}")
    // the op exists to satisfy the dot-routing assumption: after
    // normalization every surviving vector has unit L2 norm
    out.filter(_._1 != 2L).values.foreach { u =>
      val n = u.get.map(x => x * x.doubleValue).sum
      assert(math.abs(n - 1.0) < 1e-12, s"norm^2 = $n")
    }
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.l2Normalize(df.withColumn("unit", lit(1)), col("v"))
    }
  }

  test("gapFill: NULL keys/timestamps and maxBucketsPerKey interact correctly on one input") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the two r8 hardenings TOGETHER: NULL-keyed/NULL-ts rows must be
    // excluded BEFORE the cap counts spans (a NULL key must never trip —
    // or be named by — the guard), and the guard must still fire on the
    // real offender with NULLs present in the same input
    val df = Seq[(java.lang.Long, String)](
        (1L, "2024-01-01 00:30:00"),
        (1L, "2024-01-01 02:30:00"),   // key 1 spans 3 hourly buckets
        (1L, null),                    // NULL ts on the offending key
        (2L, "2024-01-01 00:45:00"),   // key 2 spans 1 bucket
        (null, "2024-01-01 01:30:00"), // NULL key
        (null, "1970-01-01 00:00:00")) // NULL key with a hostile span
      .toDF("k", "s").withColumn("ts", to_timestamp(col("s")))
    // cap 3: key 1 is AT the cap, NULL rows excluded — must pass, and the
    // NULL-key rows (which span ~473k hourly buckets 1970->2024 if counted)
    // must not produce a spine
    val ok = graft.api.GraftOps.gapFill(df, col("k"), col("ts"),
      stepUs = 3600000000L, maxBucketsPerKey = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(ok.map(_._1).toSet == Set(1L, 2L))
    assert(ok.count(_._1 == 1L) == 3 && ok.count(_._1 == 2L) == 1)
    assert(ok.filter(_._1 == 1L).map(_._2).sum == 2L,
      "key 1 counts only its non-NULL-ts events")
    // cap 2: the guard fires and names key 1 — not the NULL rows
    val e = intercept[Exception] {
      graft.api.GraftOps.gapFill(df, col("k"), col("ts"),
        stepUs = 3600000000L, maxBucketsPerKey = 2L).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("gapFill: key 1 spans 3 buckets"),
      s"guard must name key 1 with NULL rows present; got: $msg")
  }

  test("topQuantileFilterApprox keeps an exact-tier superset bounded at the boundary value") {
    import org.apache.spark.sql.functions._
    // GK with accuracy >> n is rank-exact, but the two tiers still differ
    // at fractional quantile ranks: exact `percentile` INTERPOLATES
    // between adjacent data values while `approx_percentile` returns an
    // actual data value — so the sketched threshold can sit one distinct
    // value BELOW the interpolated one and keep that boundary value's
    // rows too. The contract is therefore exact ⊆ approx, with every
    // extra row scoring exactly its stratum's sketched threshold (never a
    // second value below it). Set EQUALITY here would rest on the fixture
    // happening to tie at each stratum boundary — a fixture change away
    // from a false failure.
    val d = Tables.load(spark, sf001, "documents")
      .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(graft.api.GraftOps.topQuantileFilter(d, col("source"),
      col("n_tokens"), quantile = 0.7))
    val approxDf = graft.api.GraftOps.topQuantileFilterApprox(d, col("source"),
      col("n_tokens"), quantile = 0.7)
    val approx = ids(approxDf)
    assert(approx.nonEmpty && exact.subsetOf(approx),
      s"sketch tier lost exact-tier rows: ${(exact diff approx).size} missing")
    val extras = approxDf
      .filter(!col("doc_id").isin(exact.toSeq: _*))
      .select(col("n_tokens").cast("double"), col("q_threshold"))
      .collect()
    assert(extras.forall(r => r.getDouble(0) == r.getDouble(1)),
      "every approx-only row must sit exactly ON its stratum's sketched " +
        s"threshold; got ${extras.filterNot(r => r.getDouble(0) == r.getDouble(1)).mkString(",")}")
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.topQuantileFilterApprox(
        d.withColumn("q_threshold", lit(0.0)), col("source"), col("n_tokens"), 0.7)
    }
  }

  test("topQuantileFilter: NULL strata form their own group; q_threshold collision rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Seq[(String, java.lang.Double)](
        ("a", 1.0), ("a", 2.0), ("a", 3.0), (null, 5.0), (null, 1.0))
      .toDF("s", "sc")
    val kept = graft.api.GraftOps.topQuantileFilter(d, col("s"), col("sc"),
      quantile = 0.5).collect()
    // NULL stratum survives via the null-safe join: median of (1,5) = 3,
    // so the 5.0 row is kept
    val nullRows = kept.filter(_.isNullAt(0))
    assert(nullRows.map(_.getDouble(1)).toSeq == Seq(5.0),
      "NULL-stratum rows must be filtered against their own threshold, not dropped")
    assert(kept.filter(_.getAs[String]("s") == "a").map(_.getDouble(1)).sorted.toSeq
      == Seq(2.0, 3.0))
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.topQuantileFilter(d.withColumn("q_threshold", lit(0.0)),
        col("s"), col("sc"), quantile = 0.5)
    }
  }

  test("decodeMjpegFrames: real RIFF-AVI walk + JDK JPEG decode, corrupt-safe") {
    import spark.implicits._
    // the q53 contract: syntheticAviMjpeg(id) has (id%4+2) solid-gray
    // JPEG frames at (id%7+2)*8 x (id%5+2)*8, gray (id*31 + f*17) % 256.
    // JPEG is lossy: dims and frame count are EXACT, solid-frame luma is
    // bounded (DC-only blocks round-trip within a few quantizer levels)
    val ids = Seq(0L, 3L, 5L, 11L, 26L)
    val df = ids.map(id => (id, graft.operators.MultimodalOps.syntheticAviMjpeg(id)))
      .toDF("doc_id", "payload")
    val out = graft.operators.MultimodalOps.decodeMjpegFrames(df, everyNth = 2)
      .collect().map(f => (f.doc_id, f.frame_idx) -> f).toMap
    ids.foreach { id =>
      val frames = (0 until (id % 4 + 2).toInt).filter(_ % 2 == 0)
      assert(out.keys.count(_._1 == id) == frames.size,
        s"doc $id: everyNth=2 keeps exactly frames ${frames.mkString(",")}")
      frames.foreach { f =>
        val r = out((id, f))
        assert(r.ok && r.width == (id % 7 + 2).toInt * 8 &&
          r.height == (id % 5 + 2).toInt * 8)
        val expect = ((id * 31 + f * 17) % 256).toDouble
        assert(math.abs(r.mean_luma - expect) <= 4.0,
          s"doc $id frame $f: luma ${r.mean_luma} strayed from $expect")
      }
    }
    // garbage bytes and a truncated container both degrade to counted rows
    val good = graft.operators.MultimodalOps.syntheticAviMjpeg(3L)
    val bad = graft.operators.MultimodalOps.decodeMjpegFrames(
      Seq((98L, Array[Byte](1, 2, 3, 4)), (99L, good.take(good.length / 2)))
        .toDF("doc_id", "payload")).collect()
    assert(bad.forall(!_.ok) && bad.map(_.doc_id).toSet == Set(98L, 99L),
      "corrupt/truncated AVIs must surface as ok=false rows, never task failures")
    // fuzz the container walk: EVERY truncation of a valid AVI plus
    // hostile claimed chunk sizes (~2^31 — would overflow an int cursor)
    // must decode to counted rows, never a task failure
    def le(v: Long): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val hostile = "RIFF".getBytes("US-ASCII") ++ le(0xfffffff0L) ++
      "AVI LIST".getBytes("US-ASCII") ++ le(0x7ffffff0L) ++
      "movi00dc".getBytes("US-ASCII") ++ le(0x7fffffffL) ++ Array.fill[Byte](16)(0)
    val fuzz = (1 until good.length by 7).map(n => (n.toLong, good.take(n))) :+
      (0L, hostile)
    val fz = graft.operators.MultimodalOps.decodeMjpegFrames(
      fuzz.toDF("doc_id", "payload")).collect()
    assert(fz.map(_.doc_id).toSet == fuzz.map(_._1).toSet,
      "every fuzzed payload must produce rows (no crash, no silent drop)")
  }

  test("decodeAudioPcm: real JDK sample decode — square-wave stats are EXACT") {
    import spark.implicits._
    // the q56 contract: syntheticWav(id) is a mono 16-bit square wave of
    // (id%5+1)*100 samples at amplitude A=(id*37)%1000+100, so mean|s|,
    // RMS and peak all equal A exactly (integer sums; sqrt(A^2)==A)
    val ids = Seq(0L, 3L, 7L, 42L, 199L)
    val df = ids.map(id => (id, graft.operators.MultimodalOps.syntheticWav(id)))
      .toDF("doc_id", "payload")
    val out = graft.operators.MultimodalOps.decodeAudioPcm(df)
      .collect().map(r => r.doc_id -> r).toMap
    ids.foreach { id =>
      val r = out(id)
      val amp = ((id * 37) % 1000 + 100).toDouble
      assert(r.ok && r.channels == 1 && r.n_samples == (id % 5 + 1) * 100)
      assert(r.mean_abs == amp && r.rms == amp && r.peak == amp.toInt,
        s"doc $id: square-wave stats must be exactly $amp, " +
          s"got (${r.mean_abs}, ${r.rms}, ${r.peak})")
    }
    // corrupt payload: counted, never fatal
    val bad = graft.operators.MultimodalOps.decodeAudioPcm(
      Seq((99L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")).collect()
    assert(bad.length == 1 && !bad(0).ok)
  }

  test("resizeImages really rescales pixels; decodeAudioMeta parses real WAV headers") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // resize: an 8x8 solid image resized to 4x2 must decode back at 4x2
    // with the same solid color (bilinear of a constant is the constant)
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0x204060)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val in = Seq((1L, bos.toByteArray), (2L, Array[Byte](9, 9, 9)))
      .toDF("doc_id", "payload")
    val rz = graft.operators.MultimodalOps.resizeImages(in, 4, 2)
      .collect().map(r => r.doc_id -> r).toMap
    assert(rz(1L).ok && rz(1L).width == 4 && rz(1L).height == 2)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rz(1L).payload))
    assert(back.getWidth == 4 && back.getHeight == 2)
    assert((back.getRGB(2, 1) & 0xffffff) == 0x204060, "constant image stays constant")
    assert(!rz(2L).ok && rz(2L).payload.toSeq == Seq[Byte](9, 9, 9),
      "undecodable payload passes through unchanged, flagged")
    // audio: a real 16-bit mono 8kHz WAV synthesized in-test
    val afmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](1600) // 800 frames = 0.1 s
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), afmt, 800)
    val wav = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wav)
    val audio = Seq((10L, wav.toByteArray), (11L, Array[Byte](0, 1)))
      .toDF("doc_id", "payload")
    val am = graft.operators.MultimodalOps.decodeAudioMeta(audio)
      .collect().map(a => a.doc_id -> a).toMap
    assert(am(10L).ok && am(10L).sample_rate == 8000f && am(10L).channels == 1 &&
      am(10L).frames == 800L && math.abs(am(10L).duration_sec - 0.1) < 1e-9)
    assert(!am(11L).ok)
  }

  test("q49 image-codec roundtrip stats match the analytic pixel values") {
    val out = graft.SparkEntry.queries("q49_image_codec_roundtrip")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.nonEmpty && out.values.forall(_.getAs[Boolean]("ok")),
      "every synthesized PNG must decode")
    for (id <- Seq(0L, 13L, 199L) if out.contains(id)) {
      val w = (id % 7 + 2).toInt
      val h = (id % 5 + 2).toInt
      val mean = (for (y <- 0 until h; x <- 0 until w)
        yield ((id * 31 + x * 7 + y * 3) % 256).toDouble).sum / (w * h)
      val r = out(id)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(math.abs(r.getAs[Double]("mean_luma") - mean) < 1e-9,
        s"id $id: decoded luma must equal the analytic gray mean")
    }
  }

  test("decodeFrames stub decoder matches the q26 expression-path frame relation") {
    // The mapPartitions decoder and q26's pure-expression path must agree
    // row-for-row, so swapping a real codec into decodeFrames has a pinned
    // contract against the oracle-checked relation.
    val q26 = graft.operators.MultimodalOps.q26.run(spark, sf001)
      .select("doc_id", "frame_idx", "frame_offset", "feature")
    val payload = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val decoded = graft.operators.MultimodalOps.decodeFrames(payload, frameStride = 100)
      .toDF().select("doc_id", "frame_idx", "frame_offset", "feature")
    assert(decoded.except(q26).isEmpty && q26.except(decoded).isEmpty,
      "mapPartitions decode and expression path must produce identical frames")
  }

  test("embeddingNearDup LSH path fails loudly on wrong-dim vectors") {
    import spark.implicits._
    val df = (1L to 4L).map(i => (i, Seq.fill(8)(0.5f))).toDF("vid", "v")
    val e = intercept[Exception](
      GraftOps.embeddingNearDup(df, col("vid"), col("v"),
        threshold = 0.9, dim = 16, quadraticLimit = 1L).collect())
    assert(e.getMessage != null)
  }

  test("knn is schema-agnostic and excludes self") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)))
      .toDF("vid", "v")
    val out = GraftOps.knn(vecs, vecs.filter(col("vid") === 1),
      col("vid"), col("v"), col("vid"), col("v"), k = 1).collect()
    assert(out.length == 1 && out(0).getAs[Long]("id") == 2L)
  }

  test("kmeansAssignJoin is bit-equal to the baked kmeansAssign (q48 fixture)") {
    // the broadcast-join tier exists for k >> 10^4 models; its CONTRACT is
    // exact agreement with the baked path at any k — same argmax fold,
    // same lowest-cluster tie rule
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val model = GraftOps.kmeansFit(emb, col("vec_id"), col("embedding"),
      k = 8, iters = 2)
    val baked = GraftOps.kmeansAssign(emb, col("embedding"), model)
    val joined = GraftOps.kmeansAssignJoin(emb, col("embedding"), model)
    // identical schema (all corpus columns pass through, cluster appended)
    assert(joined.columns.toSeq == baked.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = rows(baked)
    assert(b.nonEmpty && rows(joined) == b,
      "broadcast-join assign diverged from the baked expression")
    // the model must ride as DATA: a broadcast join node, not a plan
    // constant (that absence is the whole point of the tier)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected a 1-row broadcast join in the assign plan:\n$plan")
  }

  test("kmeansAssignJoin null-vector rows get a null cluster, like the baked path") {
    import spark.implicits._
    val train = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vid", "v")
    val model = GraftOps.kmeansFit(train, col("vid"), col("v"), k = 2, iters = 1)
    val df = Seq((1L, Some(Seq(1f, 0f))), (2L, Option.empty[Seq[Float]]))
      .toDF("vid", "v")
    def byId(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    val baked = byId(GraftOps.kmeansAssign(df, col("v"), model))
    val joined = byId(GraftOps.kmeansAssignJoin(df, col("v"), model))
    assert(baked(2L).isEmpty, "baked path must null out a null vector")
    assert(joined == baked, s"null handling diverged: $joined vs $baked")
  }

  test("maskRepeatedSpans: planted boilerplate dies, unique text survives") {
    import spark.implicits._
    // 6 docs share a 7-token license header; bodies are unique. width=5
    // ⇒ repeated windows are exactly the starts fully inside the header
    // (0, 1, 2), covering token positions 0..6 — the header and NOTHING
    // else (a window straddling header+body differs per doc). Doc 7 is a
    // 3-token doc (< width: no windows, passes through even though doc 8
    // repeats it verbatim — the width-token guarantee). Doc 9's header
    // is unique (minDf law: df=1 never masks).
    val header = "licensed under the apache license version two"
    val docs = (0 until 6).map(i => (i.toLong, s"$header body$i text$i unique$i")) ++
      Seq((7L, "tiny shared doc"), (8L, "tiny shared doc"),
        (9L, s"unique header only here once body9 text9 end9"))
    val out = GraftOps.maskRepeatedSpans(docs.toDF("id", "txt"),
        col("id"), col("txt"), width = 5, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    (0 until 6).foreach { i =>
      val (n, masked, text) = out(i.toLong)
      assert(n == 10 && masked == 7, s"doc $i: expected the 7 header tokens masked, got $masked/$n")
      assert(text == s"body$i text$i unique$i",
        s"doc $i kept text must be exactly the unique body: '$text'")
    }
    assert(out(7L) == ((3, 0, "tiny shared doc")) && out(8L) == ((3, 0, "tiny shared doc")),
      "sub-width docs must pass through unmasked even when repeated verbatim")
    assert(out(9L)._2 == 0 && out(9L)._3.startsWith("unique header"),
      "a df=1 span must never mask")
  }

  test("maskRepeatedSpans: full-document repeat masks everything to ''") {
    import spark.implicits._
    val dup = "exactly the same ten tokens in every single copy here"
    val docs = Seq((1L, dup), (2L, dup), (3L, "a wholly different document body"))
    val out = GraftOps.maskRepeatedSpans(docs.toDF("id", "txt"),
        col("id"), col("txt"), width = 5, minDf = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((10, "")) && out(2L) == ((10, "")),
      "verbatim duplicate docs must mask to empty text")
    assert(out(3L)._1 == 0, "the unique doc must be untouched")
  }

  test("eval-span scrubbing: spanIndex(minDf=1) over the eval set excises quoted passages") {
    import spark.implicits._
    // the span-excising tier of decontamination (decontaminate drops the
    // whole document; this keeps it minus the leaked passage): index
    // EVERY width-window of the eval set, mask the training corpus.
    val evalSet = Seq(
      (1L, "what is the capital of france answer paris obviously"),
      (2L, "compute two plus two answer four exactly"))
      .toDF("eid", "etxt")
    val train = Seq(
      (10L, "some prose then what is the capital of france answer paris obviously and more prose"),
      (11L, "a wholly clean training document with original content"),
      (12L, "compute two plus two answer four exactly")) // pure eval quote
      .toDF("id", "txt")
    val idx = GraftOps.spanIndex(evalSet, col("eid"), col("etxt"),
      width = 5, minDf = 1)
    val out = GraftOps.maskSpansAgainst(train, col("id"), col("txt"),
        idx, width = 5)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    assert(out(10L)._2 == "some prose then and more prose",
      s"the quoted eval passage must be excised exactly: '${out(10L)._2}'")
    assert(out(11L) == ((0, "a wholly clean training document with original content")),
      "clean docs pass through byte-identical")
    assert(out(12L) == ((7, "")),
      "a document that IS an eval row masks to empty")
  }

  test("imageAHash: codec roundtrip preserves the hash; near-dup pairs are exact") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    // 20 base images + a jittered twin each (3 perturbed pixels), encoded
    // to real PNG. Laws: (1) imageAHash through encode->decode equals the
    // driver-side hash of the RAW pixels (PNG lossless for TYPE_INT_RGB);
    // (2) imageNearDup returns exactly the driver-computed pairs within
    // the radius — no false pairs, none missed.
    val rnd = new scala.util.Random(11)
    def pixels(seed: Int): Array[Array[Int]] =
      Array.tabulate(16, 16)((y, x) =>
        math.abs((seed * 7919 + x * 131 + y * 31) % 256))
    def jitter(p: Array[Array[Int]]): Array[Array[Int]] = {
      val q = p.map(_.clone())
      (0 until 3).foreach { _ =>
        q(rnd.nextInt(16))(rnd.nextInt(16)) = rnd.nextInt(256) }
      q
    }
    def refHash(p: Array[Array[Int]]): Long = {
      val cs = new Array[Long](64); val cn = new Array[Long](64)
      for (y <- 0 until 16; x <- 0 until 16) {
        val c = (y * 8 / 16) * 8 + x * 8 / 16
        cs(c) += 3L * p(y)(x); cn(c) += 1
      }
      val ts = cs.sum; val tn = cn.sum
      (0 until 64).foldLeft(0L)((h, j) =>
        if (cn(j) > 0 && cs(j) * tn > ts * cn(j)) h | (1L << j) else h)
    }
    def png(p: Array[Array[Int]]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = p(y)(x); img.setRGB(x, y, (v << 16) | (v << 8) | v) }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val imgs = (0 until 20).flatMap { i =>
      val base = pixels(i)
      Seq((i * 2L, base), (i * 2L + 1, jitter(base)))
    }
    val payloads = imgs.map { case (id, p) => (id, png(p)) }.toDF("doc_id", "payload")
    val got = MultimodalOps.imageAHash(payloads).collect()
      .map(r => r.doc_id -> (r.ahash, r.ok)).toMap
    val ref = imgs.map { case (id, p) => id -> refHash(p) }.toMap
    imgs.foreach { case (id, _) =>
      assert(got(id)._2, s"image $id failed to decode")
      assert(got(id)._1 == ref(id),
        s"image $id: hash through the codec ${got(id)._1} != raw-pixel hash ${ref(id)}")
    }
    // exact expected pair set from the reference hashes
    val idsSorted = imgs.map(_._1).sorted
    val want = (for {
      a <- idsSorted; b <- idsSorted if a < b
      h = java.lang.Long.bitCount(ref(a) ^ ref(b)) if h <= 3
    } yield (a, b, h)).toSet
    val pairs = MultimodalOps.imageNearDup(
        MultimodalOps.imageAHash(payloads).toDF(), col("doc_id"), col("ahash"),
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == want, s"pair set mismatch: got ${pairs.size}, want ${want.size}")
    assert(want.nonEmpty, "fixture sanity: some jittered twins must stay within radius")
    // a corrupt payload is counted, never thrown
    val bad = Seq((999L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val badRow = MultimodalOps.imageAHash(bad).collect().head
    assert(!badRow.ok && badRow.ahash == 0L)
  }

  test("hammingNearDup nChunks: 8 bands find radius-4..6 pairs the 4-band join cannot") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    def flip(h: Long, bits: Seq[Int]) = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    // three families on far-apart bases; each twin's flipped bits touch
    // ALL FOUR 16-bit bands, so the historic 4-band candidate join has no
    // equal band to route the pair through — the exact JPEG-re-encode
    // regime (hamming 4-6) the radius generalization exists for
    val fams = Seq(
      (10L, 0x0123456789abcdefL, Seq(0, 16, 32, 48)),          // hamming 4
      (20L, ~0x0123456789abcdefL, Seq(1, 17, 33, 49, 2)),      // hamming 5
      (30L, 0x0f0f55aa33cc9966L, Seq(3, 19, 35, 51, 4, 20)))   // hamming 6
    fams.foreach { case (_, base, bits) =>
      val d = flip(base, bits) ^ base
      (0 to 3).foreach(i => assert(((d >> (i * 16)) & 0xffffL) != 0L,
        "fixture: every 16-bit band must carry a flip"))
    }
    // fixture sanity: cross-family distances stay far outside the radius
    for (Seq((_, a, _), (_, b, _)) <- fams.combinations(2))
      assert(java.lang.Long.bitCount(a ^ b) > 10)
    val df = fams.flatMap { case (id, base, bits) =>
      Seq((id, base), (id + 1, flip(base, bits))) }.toDF("id", "h")
    val got6 = MultimodalOps.hammingNearDup(df, col("id"), col("h"), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got6 == Set((10L, 11L, 4), (20L, 21L, 5), (30L, 31L, 6)),
      s"8-band join must find every planted pair exactly: $got6")
    val got4 = MultimodalOps.hammingNearDup(df, col("id"), col("h"), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got4 == Set((10L, 11L, 4)), s"radius 4 keeps only the hamming-4 pair: $got4")
    // an explicit band count below the pigeonhole bound is rejected,
    // never silently lossy (4 bands WOULD miss all three planted pairs)
    intercept[IllegalArgumentException] {
      MultimodalOps.hammingNearDup(df, col("id"), col("h"),
        maxHamming = 5, nChunks = 4)
    }
    // defaults unchanged: radius <= 3 still runs (and finds) the 4-band plan
    val close = Seq((40L, 0x7777000011112222L),
      (41L, flip(0x7777000011112222L, Seq(5, 6)))).toDF("id", "h")
    val got3 = MultimodalOps.hammingNearDup(close, col("id"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got3 == Set((40L, 41L, 2)))
  }

  test("zorder: curve is a bijection; zorderWrite concentrates box queries into few files") {
    import spark.implicits._
    // bijectivity: 6-bit x × 6-bit y → every z in [0, 4096) exactly once
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .select(GraftOps.zorderValue(col("x"), col("y"), 6).as("z"))
    val zs = grid.collect().map(_.getLong(0))
    assert(zs.distinct.length == 4096 && zs.min == 0L && zs.max == 4095L,
      "12-bit z-curve must be a bijection over the 64x64 grid")
    // layout: same rows, z-ordered vs hash-partitioned; a 2-D box query's
    // matches concentrate in few files under z-order
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val dirZ = java.nio.file.Files.createTempDirectory("graft-zord").toString
    val dirH = java.nio.file.Files.createTempDirectory("graft-hash").toString
    try {
      GraftOps.zorderWrite(li, col("l_orderkey"), col("l_partkey"),
        bits = 12, path = dirZ, nFiles = 16)
      li.repartition(16, col("l_orderkey").cast("long") * 2654435761L)
        .write.mode("overwrite").parquet(dirH)
      // layout purity: identical multiset of rows
      val zBack = spark.read.parquet(dirZ)
      assert(zBack.count() == li.count())
      assert(zBack.exceptAll(li).isEmpty && li.exceptAll(zBack).isEmpty,
        "z-order is pure layout: same rows")
      val box = col("l_orderkey").between(1000, 2500) &&
        col("l_partkey").between(0, 200)
      def filesTouched(path: String): Long =
        spark.read.parquet(path).filter(box)
          .select(input_file_name()).distinct().count()
      val (zf, hf) = (filesTouched(dirZ), filesTouched(dirH))
      info(s"box query files touched: z-order $zf vs hash $hf (of 16)")
      assert(zf * 2 <= hf,
        s"z-order must at least halve the files a box query touches: $zf vs $hf")
    } finally {
      import scala.reflect.io.Directory
      Seq(dirZ, dirH).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }

  test("hilbert: bijection + unit-adjacency law; hilbert layout prunes like z or better") {
    import spark.implicits._
    // the property that makes Hilbert the locality upgrade: consecutive
    // curve positions are ALWAYS unit-adjacent cells (Manhattan distance
    // exactly 1) — the Z curve violates this at every power-of-two seam.
    val grid = (0 until 32).flatMap(x => (0 until 32).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        GraftOps.hilbertValue(col("x"), col("y"), 5).as("d"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
    val byD = grid.toMap
    assert(byD.size == 1024 && byD.keys.min == 0L && byD.keys.max == 1023L,
      "hilbert_d must be a bijection over the 32x32 grid")
    (0L until 1023L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve step $d -> ${d + 1} is not unit-adjacent: ($x1,$y1) -> ($x2,$y2)")
    }
    // layout: curve="hilbert" must prune the box query at least as well
    // as the measured z-order layout (both collapse it to ~1 of 16 files)
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val dirH = java.nio.file.Files.createTempDirectory("graft-hilb").toString
    try {
      GraftOps.zorderWrite(li, col("l_orderkey"), col("l_partkey"),
        bits = 12, path = dirH, nFiles = 16, curve = "hilbert")
      val back = spark.read.parquet(dirH)
      assert(back.count() == li.count() && back.exceptAll(li).isEmpty,
        "hilbert layout is pure: same rows")
      val box = col("l_orderkey").between(1000, 2500) &&
        col("l_partkey").between(0, 200)
      val files = back.filter(box).select(input_file_name()).distinct().count()
      info(s"box query files touched under hilbert layout: $files of 16")
      assert(files <= 4, s"hilbert layout must concentrate the box query: $files")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirH)).deleteRecursively()
    }
  }

  test("k-column curves: zorderValueN reproduces 2-D exactly, handles per-column bits, bijects in 3-D") {
    import spark.implicits._
    // law 1: the 2-column equal-bits case IS zorderValue bit for bit —
    // so the q89 oracle proof carries over to the N form
    val grid2 = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .select(GraftOps.zorderValue(col("x"), col("y"), 6).as("z2"),
        GraftOps.zorderValueN(Seq(col("x") -> 6, col("y") -> 6)).as("zn"))
    assert(grid2.filter(col("z2") =!= col("zn")).isEmpty,
      "zorderValueN(2 cols, equal bits) must equal zorderValue")
    // law 2: 3-D bijectivity — 4-bit cube, every value of [0, 4096) once
    val grid3 = (0 until 16).flatMap(x => (0 until 16).flatMap(y =>
        (0 until 16).map(z => (x.toLong, y.toLong, z.toLong))))
      .toDF("x", "y", "z")
      .select(GraftOps.zorderValueN(
        Seq(col("x") -> 4, col("y") -> 4, col("z") -> 4)).as("zv"))
      .collect().map(_.getLong(0))
    assert(grid3.distinct.length == 4096 && grid3.min == 0L && grid3.max == 4095L,
      "12-bit 3-D z-curve must biject over the 16^3 grid")
    // law 3: per-column bits — (x: 2 bits, y: 1 bit) round-robin drops y
    // out of level 1: z = x0 + (y0 << 1) + (x1 << 2), bijective over 4x2
    val gridPB = (0 until 4).flatMap(x => (0 until 2).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        GraftOps.zorderValueN(Seq(col("x") -> 2, col("y") -> 1)).as("zv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    gridPB.foreach { case (x, y, zv) =>
      val want = (x & 1) + ((y & 1) << 1) + (((x >> 1) & 1) << 2)
      assert(zv == want, s"per-column-bits placement: ($x,$y) -> $zv, want $want")
    }
    assert(gridPB.map(_._3).distinct.length == 8, "3-bit mixed-width curve bijects")
  }

  test("hilbertDN: 3-D bijection + unit-adjacency law over the full 16^3 grid") {
    import spark.implicits._
    // Skilling's n-D walk keeps the Hilbert guarantee in 3-D: every
    // consecutive curve position is a Manhattan-distance-1 cell move,
    // and the curve bijects the cube — the two laws that make
    // range-partitioned files cover tight 3-D regions.
    val cells = (0 until 16).flatMap(x => (0 until 16).flatMap(y =>
        (0 until 16).map(z => (x.toLong, y.toLong, z.toLong))))
      .toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        GraftOps.hilbertValueN(Seq(col("x"), col("y"), col("z")), 4).as("d"))
      .collect().map(r => r.getLong(3) -> (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byD = cells.toMap
    assert(byD.size == 4096 && byD.keys.min == 0L && byD.keys.max == 4095L,
      "hilbert_dn must biject over the 16^3 grid")
    (0L until 4095L).foreach { d =>
      val (x1, y1, z1) = byD(d); val (x2, y2, z2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) == 1,
        s"3-D curve step $d -> ${d + 1} is not unit-adjacent")
    }
    // NULL law: a null coordinate yields a null curve value (matching
    // the z path's arithmetic), never a fabricated position-0 cell
    val withNull = Seq((Some(1L), Some(2L), Some(3L)),
      (Some(1L), None, Some(3L))).toDF("x", "y", "z")
      .select(GraftOps.hilbertValueN(
        Seq(col("x"), col("y"), col("z")), 4).as("d"),
        GraftOps.zorderValueN(
          Seq(col("x") -> 4, col("y") -> 4, col("z") -> 4)).as("zv"))
      .collect()
    assert(!withNull(0).isNullAt(0) && !withNull(0).isNullAt(1))
    assert(withNull(1).isNullAt(0) && withNull(1).isNullAt(1),
      "both curves must propagate NULL coordinates, not fabricate a cell")
    // 2-D sanity: the Skilling orientation is also a proper Hilbert curve
    val flat = (0 until 32).flatMap(x => (0 until 32).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        GraftOps.hilbertValueN(Seq(col("x"), col("y")), 5).as("d"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
    val byD2 = flat.toMap
    assert(byD2.size == 1024, "2-D hilbert_dn bijects")
    (0L until 1023L).foreach { d =>
      val (x1, y1) = byD2(d); val (x2, y2) = byD2(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"2-D hilbert_dn step $d not unit-adjacent")
    }
  }

  test("compactHilbertValue: uniform == true Hilbert; mixed widths biject and preserve the walk's order") {
    import spark.implicits._
    // Law 1: at equal widths the compact walk IS a true Hilbert curve —
    // bijective over the full grid and unit-adjacent at every step
    // (gray-code rank over a full mask is the identity).
    val uni = (0 until 32).flatMap(x => (0 until 32).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        GraftOps.compactHilbertValue(Seq(col("x") -> 5, col("y") -> 5)).as("d"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
    val byD = uni.toMap
    assert(byD.size == 1024 && byD.keys.min == 0L && byD.keys.max == 1023L,
      "uniform compact walk must biject over the 32x32 grid")
    (0L until 1023L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"uniform compact walk step $d -> ${d + 1} is not unit-adjacent")
    }
    // Laws 2+3 on mixed widths (4,2,1) — a 16x4x2 box, 128 cells:
    // bijectivity onto [0, 2^7), and ORDER-EQUIVALENCE with the uniform
    // walk at max-bits over the same box cells (Hamilton's defining
    // property: the compact index preserves the regular index's order).
    val box = (0 until 16).flatMap(x => (0 until 4).flatMap(y =>
        (0 until 2).map(z => (x.toLong, y.toLong, z.toLong))))
      .toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        GraftOps.compactHilbertValue(
          Seq(col("x") -> 4, col("y") -> 2, col("z") -> 1)).as("compact"),
        GraftOps.compactHilbertValue(
          Seq(col("x") -> 4, col("y") -> 4, col("z") -> 4)).as("uniform"))
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    val cs = box.map(_._1)
    assert(cs.distinct.length == 128 && cs.min == 0L && cs.max == 127L,
      "mixed-width compact index must biject onto [0, 2^7)")
    val byCompact = box.sortBy(_._1).map(_._2).toSeq
    assert(byCompact == byCompact.sorted,
      "compact order must equal the uniform walk's order over the box")
  }

  test("zorderWriteN: a 3-D box query touches few files under both 3-column curves") {
    import spark.implicits._
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val cols = Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val box = col("l_orderkey").between(1000, 2500) &&
      col("l_partkey").between(0, 200) && col("l_suppkey").between(0, 25)
    val dirZ = java.nio.file.Files.createTempDirectory("graft-z3").toString
    val dirH3 = java.nio.file.Files.createTempDirectory("graft-h3").toString
    val dirHash = java.nio.file.Files.createTempDirectory("graft-hash3").toString
    try {
      GraftOps.zorderWriteN(li, cols, bits = 8, path = dirZ, nFiles = 16)
      GraftOps.zorderWriteN(li, cols, bits = 8, path = dirH3, nFiles = 16,
        curve = "hilbert")
      li.repartition(16, col("l_orderkey").cast("long") * 2654435761L)
        .write.mode("overwrite").parquet(dirHash)
      val zBack = spark.read.parquet(dirZ)
      assert(zBack.count() == li.count() && zBack.exceptAll(li).isEmpty,
        "3-column z-order is pure layout: same rows")
      def filesTouched(path: String): Long =
        spark.read.parquet(path).filter(box)
          .select(input_file_name()).distinct().count()
      val (zf, hf, hashf) = (filesTouched(dirZ), filesTouched(dirH3),
        filesTouched(dirHash))
      info(s"3-D box files touched: z3 $zf, hilbert3 $hf, hash $hashf (of 16)")
      assert(zf * 2 <= hashf,
        s"3-col z-order must at least halve the files touched: $zf vs $hashf")
      assert(hf * 2 <= hashf,
        s"3-col hilbert must at least halve the files touched: $hf vs $hashf")
      // mixed-width compact Hilbert layout prunes the same box
      val dirCH = java.nio.file.Files.createTempDirectory("graft-ch3").toString
      try {
        GraftOps.zorderWriteNW(li, cols.zip(Seq(8, 6, 4)), path = dirCH,
          nFiles = 16, curve = "compactHilbert")
        val chBack = spark.read.parquet(dirCH)
        assert(chBack.count() == li.count() && chBack.exceptAll(li).isEmpty,
          "compact-hilbert layout is pure: same rows")
        val chf = filesTouched(dirCH)
        info(s"3-D box files touched under mixed-width compactHilbert: $chf of 16")
        assert(chf * 2 <= hashf,
          s"mixed-width compact hilbert must at least halve the files: $chf vs $hashf")
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dirCH)).deleteRecursively()
      }
    } finally {
      import scala.reflect.io.Directory
      Seq(dirZ, dirH3, dirHash).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }

  test("admission-index compaction: a simulated crash-retry dedups exactly; span partials re-aggregate") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    // per-row tier: append batch B twice (the at-least-once retry shape)
    // -> duplicate FLAG rows; compactAdmissionIndex restores the rebuild
    val a = Seq((0L, "alpha beta"), (1L, "gamma delta")).toDF("id", "text")
    val b = Seq((2L, "epsilon zeta")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-cmp").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cmp-out").toString
    try {
      StreamingOps.fingerprintIndex(a, col("id"), col("text"))
        .write.mode("append").parquet(dir)
      (1 to 2).foreach(_ => StreamingOps.fingerprintIndex(b, col("id"), col("text"))
        .write.mode("append").parquet(dir))
      val arrivals = Seq((100L, "epsilon zeta")).toDF("id", "text")
      def flags(idx: org.apache.spark.sql.DataFrame) =
        StreamingOps.fingerprintAgainst(arrivals, col("id"), col("text"), idx)
          .as[(Long, Long)].collect().toSeq
      assert(flags(spark.read.parquet(dir)) == Seq((100L, 2L), (100L, 2L)),
        "the retried append duplicates the flag row (the documented caveat)")
      GraftOps.compactAdmissionIndex(spark, dir, out)
      val rebuilt = StreamingOps.fingerprintIndex(a.union(b).union(b),
        col("id"), col("text")).distinct()
      assert(flags(spark.read.parquet(out)) == Seq((100L, 2L)) &&
        spark.read.parquet(out).count() == rebuilt.count(),
        "compaction restores exactly the rebuild: one flag row, no dups")
    } finally {
      import scala.reflect.io.Directory
      Seq(dir, out).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
    // span tier: compaction preserves the DERIVED index exactly (one row
    // per hash afterwards), and a retried partial only ever ADDS spans
    val sliceA = Seq((10L, "common five token header block here tail a"),
      (11L, "common five token header block here tail b")).toDF("id", "text")
    val sliceB = Seq((12L, "another repeated window sentence body x"),
      (13L, "another repeated window sentence body y")).toDF("id", "text")
    val sDir = java.nio.file.Files.createTempDirectory("graft-scmp").toString
    val sOut = java.nio.file.Files.createTempDirectory("graft-scmp-out").toString
    try {
      GraftOps.spanIndexCounts(sliceA, col("id"), col("text"), 5)
        .write.mode("append").parquet(sDir)
      (1 to 2).foreach(_ => GraftOps.spanIndexCounts(sliceB, col("id"), col("text"), 5)
        .write.mode("append").parquet(sDir))
      val before = GraftOps.spanIndexFromCounts(spark.read.parquet(sDir), 2)
        .as[Long].collect().toSet
      GraftOps.compactSpanCounts(spark, sDir, sOut)
      val compacted = spark.read.parquet(sOut)
      val after = GraftOps.spanIndexFromCounts(compacted, 2)
        .as[Long].collect().toSet
      assert(after == before, "compaction never changes the derived index")
      assert(compacted.groupBy("__sh").count().filter(col("count") > 1).isEmpty,
        "compacted counts hold one row per hash")
      val clean = GraftOps.spanIndex(sliceA.union(sliceB), col("id"),
        col("text"), width = 5, minDf = 2).as[Long].collect().toSet
      assert(clean.subsetOf(before),
        "a retried partial only ADDS spans (conservative over-mask), never loses one")
    } finally {
      import scala.reflect.io.Directory
      Seq(sDir, sOut).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }

  test("compactOutput: many tiny files collapse to byte-targeted few, rows unchanged") {
    import spark.implicits._
    val scattered = java.nio.file.Files.createTempDirectory("graft-tiny").toString
    val out = java.nio.file.Files.createTempDirectory("graft-tiny-out").toString
    try {
      // simulate streaming-append accretion: 40 one-file writes
      (0 until 40).foreach { i =>
        Seq.tabulate(50)(j => (i * 50L + j, s"row $i $j"))
          .toDF("id", "v").coalesce(1).write.mode("append").parquet(scattered)
      }
      def parquetFiles(p: String) =
        new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
      assert(parquetFiles(scattered) == 40, "fixture: 40 scattered files")
      // generous target -> everything packs into ONE file
      val n = GraftOps.compactOutput(spark, scattered, out,
        targetBytes = 1L * 1024 * 1024 * 1024)
      assert(n == 1 && parquetFiles(out) == 1,
        s"1 GiB target must pack 40 tiny files into one: n=$n")
      val before = spark.read.parquet(scattered)
      val after = spark.read.parquet(out)
      assert(after.count() == 2000 && after.exceptAll(before).isEmpty &&
        before.exceptAll(after).isEmpty, "compaction is pure layout: same rows")
      // tiny target -> file count tracks ceil(bytes / target)
      val bytes = new java.io.File(scattered).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val out2 = java.nio.file.Files.createTempDirectory("graft-tiny-out2").toString
      try {
        val target = math.max(1L, bytes / 7)
        val n2 = GraftOps.compactOutput(spark, scattered, out2, target)
        // exact: the op sizes from DATA-file bytes only (no _SUCCESS /
        // .crc inflation — ADVICE r14), the same sum this spec computed
        val want = (bytes + target - 1) / target
        assert(n2 == want && parquetFiles(out2) == n2,
          s"byte-derived file target honored: n2=$n2 want=$want")
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(out2)).deleteRecursively()
      }
    } finally {
      import scala.reflect.io.Directory
      Seq(scattered, out).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }

  test("videoFrameHashesAvi: frame hashes survive the LOSSY MJPEG codec on high-margin content") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    // JPEG error is a few gray levels; aHash compares cell means against
    // the frame mean, so 0/255 block content (~127 margin) cannot flip a
    // bit. Laws: (1) AVI hashes equal the driver reference computed from
    // the RAW pattern; (2) twin videos sharing 2 of 3 frames pair with
    // matched_frames = 2 through the lossy codec; (3) corrupt payloads
    // are counted, never thrown.
    val rnd = new scala.util.Random(41)
    def pattern(): Array[Array[Boolean]] = Array.fill(8, 8)(rnd.nextBoolean())
    def img(p: Array[Array[Boolean]]): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = if (p(y / 2)(x / 2)) 255 else 0
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    def refHash(p: Array[Array[Boolean]]): Long = {
      // cell (cy, cx) is uniform v; bit = v*cells > mean*cells ⇔ v > mean
      val vals = for (cy <- 0 until 8; cx <- 0 until 8)
        yield if (p(cy)(cx)) 255L else 0L
      val ts = vals.sum * 3 * 4; val tn = 256L // 3 channels × 4 px/cell
      vals.take(63).zipWithIndex.foldLeft(0L) { case (h, (v, j)) =>
        if (v * 3 * 4 * tn > ts * 4) h | (1L << j) else h
      }
    }
    val vids = (0 until 6).map(i => (i.toLong, Array.fill(3)(pattern())))
    val payloads = vids.map { case (id, ps) =>
      (id, MultimodalOps.syntheticAviFromImages(ps.toSeq.map(img)))
    }.toDF("doc_id", "payload")
    val got = MultimodalOps.videoFrameHashesAvi(payloads).collect()
      .map(r => (r.doc_id, r.frame_idx) -> (r.fhash, r.ok)).toMap
    vids.foreach { case (id, ps) =>
      ps.zipWithIndex.foreach { case (p, f) =>
        assert(got((id, f))._2, s"video $id frame $f failed")
        assert(got((id, f))._1 == refHash(p),
          s"video $id frame $f: hash through the LOSSY codec != pattern reference")
      }
    }
    // twins: share frames 0-1, differ in frame 2 -> matched exactly 2
    val base = Array.fill(3)(pattern())
    val twin = base.clone(); twin(2) = pattern()
    val tp = Seq((100L, base), (101L, twin)).map { case (id, ps) =>
      (id, MultimodalOps.syntheticAviFromImages(ps.toSeq.map(img)))
    }.toDF("doc_id", "payload")
    val pairs = MultimodalOps.videoNearDup(
        MultimodalOps.videoFrameHashesAvi(tp).toDF().filter(col("ok")),
        col("doc_id"), col("frame_idx"), col("fhash"), minMatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((100L, 101L, 2L)),
      s"AVI twins must share exactly their 2 untouched frames: ${pairs.toSeq}")
    val bad = Seq((99L, Array[Byte](7))).toDF("doc_id", "payload")
    assert(!MultimodalOps.videoFrameHashesAvi(bad).collect().head.ok)
  }

  test("videoFrameHashes: GIF sequence roundtrip preserves every frame hash") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    // driver-side reference over the RAW frame pixels vs the codec path —
    // the explicit 256-gray palette makes the GIF sequence lossless, so
    // every per-frame hash must come back bit-equal; plus frame alignment
    // (frame_idx order) and the corrupt-payload contract.
    val rnd = new scala.util.Random(31)
    def frames(): Array[Array[Array[Int]]] =
      Array.fill(3)(Array.fill(16, 16)(rnd.nextInt(256)))
    def refHash(p: Array[Array[Int]]): Long = {
      val cs = new Array[Long](64); val cn = new Array[Long](64)
      for (y <- 0 until 16; x <- 0 until 16) {
        val c = (y * 8 / 16) * 8 + x * 8 / 16
        cs(c) += 3L * p(y)(x); cn(c) += 1
      }
      val ts = cs.sum; val tn = cn.sum
      (0 until 63).foldLeft(0L)((h, j) =>
        if (cn(j) > 0 && cs(j) * tn > ts * cn(j)) h | (1L << j) else h)
    }
    val vids = (0 until 8).map(i => (i.toLong, frames()))
    val payloads = vids.map { case (id, fs) =>
      (id, MultimodalOps.syntheticGrayGif(16, 16, 3, (f, x, y) => fs(f)(y)(x)))
    }.toDF("doc_id", "payload")
    val got = MultimodalOps.videoFrameHashes(payloads).collect()
      .map(r => (r.doc_id, r.frame_idx) -> (r.fhash, r.ok)).toMap
    vids.foreach { case (id, fs) =>
      fs.zipWithIndex.foreach { case (p, f) =>
        assert(got((id, f))._2, s"video $id frame $f failed to decode")
        assert(got((id, f))._1 == refHash(p),
          s"video $id frame $f: hash through the codec != raw-pixel reference")
      }
    }
    // a corrupt payload is one counted row, never a throw
    val bad = Seq((99L, Array[Byte](4, 4))).toDF("doc_id", "payload")
    val badRow = MultimodalOps.videoFrameHashes(bad).collect()
    assert(badRow.length == 1 && !badRow.head.ok)
    // videoNearDup: shared-frame videos pair with the exact matched count
    val twin = vids.take(1).flatMap { case (_, fs) =>
      val fs2 = fs.map(_.map(_.clone())) // copy, then replace frame 2
      fs2(2) = Array.fill(16, 16)(rnd.nextInt(256))
      Seq((100L, fs), (101L, fs2))
    }
    val tp = twin.map { case (id, fs) =>
      (id, MultimodalOps.syntheticGrayGif(16, 16, 3, (f, x, y) => fs(f)(y)(x)))
    }.toDF("doc_id", "payload")
    val pairs = MultimodalOps.videoNearDup(
        MultimodalOps.videoFrameHashes(tp).toDF().filter(col("ok")),
        col("doc_id"), col("frame_idx"), col("fhash"), minMatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(pairs.toSeq == Seq((100L, 101L, 2L, 2.0 / 3.0)),
      s"twin videos share exactly their 2 untouched frames: ${pairs.toSeq}")
  }

  test("audioFingerprint: WAV roundtrip preserves the envelope hash exactly") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    // driver-side reference over the RAW samples vs the codec path —
    // 16-bit PCM WAV must roundtrip bit-exact (the q56 law, at the
    // fingerprint level); plus the corrupt-payload contract.
    val rnd = new scala.util.Random(23)
    def clip(): Array[Int] = Array.fill(200)(rnd.nextInt(4001) - 2000)
    def wav(samples: Array[Int]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (v, i) =>
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def refHash(samples: Array[Int]): Long = {
      val ws = new Array[Long](64); val wn = new Array[Long](64)
      val n = samples.length
      samples.zipWithIndex.foreach { case (s, i) =>
        val w = (i.toLong * 64 / n).toInt
        ws(w) += math.abs(s); wn(w) += 1 }
      val ts = ws.sum; val tn = wn.sum
      (0 until 64).foldLeft(0L)((h, j) =>
        if (wn(j) > 0 && ws(j) * tn > ts * wn(j)) h | (1L << j) else h)
    }
    val clips = (0 until 15).map(i => (i.toLong, clip()))
    val payloads = clips.map { case (id, s) => (id, wav(s)) }.toDF("doc_id", "payload")
    val got = MultimodalOps.audioFingerprint(payloads).collect()
      .map(r => r.doc_id -> (r.afp, r.ok)).toMap
    clips.foreach { case (id, s) =>
      assert(got(id)._2, s"clip $id failed to decode")
      assert(got(id)._1 == refHash(s),
        s"clip $id: fingerprint through the codec != raw-sample reference")
    }
    val bad = Seq((99L, Array[Byte](9, 9))).toDF("doc_id", "payload")
    val badRow = MultimodalOps.audioFingerprint(bad).collect().head
    assert(!badRow.ok && badRow.afp == 0L)
  }

  test("chunkDocuments laws: coverage, overlap continuity, single-chunk identity") {
    import spark.implicits._
    val maxT = 6; val stride = 4 // overlap 2
    val docs = Seq(
      (1L, (0 until 17).map(i => s"t$i").mkString(" ")), // 17 toks -> 4 chunks
      (2L, "exactly six tokens fit one chunk"),          // 6 toks  -> 1 chunk
      (3L, "short"),                                     // 1 tok   -> 1 chunk
      (4L, (0 until 10).map(i => s"u$i").mkString(" "))) // 10 toks -> 2 chunks
      .toDF("id", "txt")
    val chunks = GraftOps.chunkDocuments(docs, col("id"), col("txt"),
        maxTokens = maxT, stride = stride)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // chunk counts: 1 + ceil((n - max)/stride)
    assert(chunks(1L).length == 4 && chunks(2L).length == 1 &&
      chunks(3L).length == 1 && chunks(4L).length == 2)
    // single-chunk identity: a doc that fits comes back verbatim
    assert(chunks(2L).head._4 == "exactly six tokens fit one chunk")
    assert(chunks(3L).head._4 == "short")
    // coverage: chunk i holds tokens [i*stride, i*stride + len_i); the
    // union must be exactly 0..n-1 with no gaps (consecutive starts differ
    // by stride < maxT) and the last chunk must reach n
    for ((id, n) <- Seq(1L -> 17, 4L -> 10)) {
      val cs = chunks(id)
      cs.foreach { case (_, cid, len, text) =>
        val toks = text.split(" ")
        assert(toks.length == len)
        // token at position cid*stride + j is the original token
        toks.zipWithIndex.foreach { case (t, j) =>
          val p = cid * stride + j
          assert(t == (if (id == 1L) s"t$p" else s"u$p"),
            s"doc $id chunk $cid pos $j: got $t") }
      }
      assert(cs.last._2 * stride + cs.last._3 == n,
        s"doc $id: last chunk must end at n=$n")
      // overlap continuity: a full chunk's last (maxT - stride) tokens
      // reappear as the next chunk's first tokens
      cs.sliding(2).foreach { pair =>
        if (pair.length == 2 && pair(0)._3 == maxT)
          assert(pair(0)._4.split(" ").takeRight(maxT - stride).toSeq ==
            pair(1)._4.split(" ").take(maxT - stride).toSeq)
      }
    }
    // NULL-text contract: no token stream -> the doc emits NO chunks
    // (sequence over a NULL count explodes to nothing); maskRepeatedSpans
    // by contrast keeps the row with NULL counts (left join from base)
    val withNull = Seq((1L, "some real tokens here"), (2L, null.asInstanceOf[String]))
      .toDF("id", "txt")
    val chunkIds = GraftOps.chunkDocuments(withNull, col("id"), col("txt"), 6, 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(chunkIds == Set(1L), s"NULL-text docs emit no chunks: $chunkIds")
    val maskRows = GraftOps.maskRepeatedSpans(withNull, col("id"), col("txt"),
        width = 5, minDf = 2)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(maskRows == Map(1L -> false, 2L -> true),
      s"maskRepeatedSpans keeps NULL-text docs with NULL counts: $maskRows")
    // declarative parity
    docs.createOrReplaceTempView("chunk_docs_v")
    val ports = graft.plans.PipelineCompiler.compile(
      graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="src" class="viewInput"><arg key="table" value="chunk_docs_v"/></operator>
        <operator name="ch" class="chunkDocuments">
          <arg key="id" value="id"/><arg key="text" value="txt"/>
          <arg key="maxTokens" value="6"/><arg key="stride" value="4"/>
        </operator>
        <connect from="src.outport1" to="ch.inport1"/>
      </pipeline>"""), spark)
    val got = ports("ch.outport1").collect().map(_.toSeq).toSet
    val want = GraftOps.chunkDocuments(docs, col("id"), col("txt"), 6, 4)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("maskRepeatedSpans minCount: within-ONE-doc repeats mask only when enabled") {
    import spark.implicits._
    // full ExactSubstr semantics: doc 1 repeats its own 5-token passage
    // twice but shares nothing with other docs (df=1 everywhere). The
    // default (minCount=0, docs-based) must leave it alone; minCount=2
    // must mask BOTH occurrences of the passage.
    val phrase = "five exact tokens repeated verbatim"
    val docs = Seq(
      (1L, s"$phrase middle filler words $phrase"),
      (2L, "an unrelated second document with its own words"))
      .toDF("id", "txt")
    val off = GraftOps.maskRepeatedSpans(docs, col("id"), col("txt"),
        width = 5, minDf = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(off(1L) == 0 && off(2L) == 0,
      s"df-based default must not mask within-doc repeats: $off")
    val on = GraftOps.maskRepeatedSpans(docs, col("id"), col("txt"),
        width = 5, minDf = 2, minCount = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    assert(on(1L)._1 == 10 && on(1L)._2 == "middle filler words",
      s"minCount=2 must mask both occurrences of the self-repeated passage: ${on(1L)}")
    assert(on(2L)._1 == 0, "the unique doc stays untouched")
  }

  test("topRepeatedSpans: reported reach equals a direct recount; masking kills the report") {
    import spark.implicits._
    val docs = ((0 until 5).map(i => (i.toLong, s"common header run here now body$i")) ++
      (5 until 8).map(i => (i.toLong, s"another shared phrase five long tail$i")) ++
      Seq((9L, "a unique document with no repeats at all"))).toDF("id", "txt")
    val report = GraftOps.topRepeatedSpans(docs, col("id"), col("txt"),
        width = 5, minDf = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(report.nonEmpty)
    // recount law: each reported span really occurs in n_docs distinct docs
    val toks = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    report.foreach { case (span, nDocs, nOcc) =>
      val st = span.split(" ").toSeq
      val hits = toks.filter { case (_, ts) => ts.sliding(5).contains(st) }
      val occ = toks.map { case (_, ts) => ts.sliding(5).count(_ == st) }.sum
      assert(hits.length.toLong == nDocs && occ.toLong == nOcc,
        s"'$span': reported ($nDocs, $nOcc) vs recount (${hits.length}, $occ)")
      assert(nDocs >= 2)
    }
    // the report is what masking removes: on THIS fixture the masked
    // corpus has no repeated spans left at the same (width, minDf).
    // (Not a universal law — excising spans makes the surrounding tokens
    // adjacent, and in adversarial corpora those new windows can collide
    // across docs; here the unique bodies prevent it.)
    val masked = GraftOps.maskRepeatedSpans(docs, col("id"), col("txt"),
        width = 5, minDf = 2)
      .select(col("doc_id").as("id"), col("masked_text").as("txt"))
    val after = GraftOps.topRepeatedSpans(masked, col("id"), col("txt"),
      width = 5, minDf = 2, k = 10).count()
    assert(after == 0, s"masking left repeated spans on this fixture: $after")
  }

  test("spanIndex self-index law: masking a corpus against its own index == maskRepeatedSpans") {
    import spark.implicits._
    // the law that makes the streaming admission tier trustworthy: the
    // index is exactly maskRepeatedSpans' internal repeated set, so
    // maskSpansAgainst(df, spanIndex(df)) must be bit-equal to the
    // one-shot batch operator on any corpus.
    val docs = ((0 until 5).map(i =>
        (i.toLong, s"common leading boilerplate run here body$i tail$i")) ++
      Seq((7L, "short doc"), (8L, ""), (9L, "another unique document full of words")))
      .toDF("id", "txt")
    val direct = GraftOps.maskRepeatedSpans(docs, col("id"), col("txt"),
      width = 5, minDf = 2).collect().map(_.toSeq).toSet
    val idx = GraftOps.spanIndex(docs, col("id"), col("txt"), width = 5, minDf = 2)
    val viaIndex = GraftOps.maskSpansAgainst(docs, col("id"), col("txt"),
      idx, width = 5).collect().map(_.toSeq).toSet
    assert(viaIndex == direct && direct.size == 8)
  }

  test("maskRepeatedSpans: declarative registry op equals the API path") {
    import spark.implicits._
    val docs = (0 until 4).map(i =>
      (i.toLong, s"shared prefix tokens here always body$i tail$i")).toDF("id", "txt")
    docs.createOrReplaceTempView("span_docs_v")
    val ports = graft.plans.PipelineCompiler.compile(
      graft.plans.PipelineSpec.parseXml("""
      <pipeline>
        <operator name="src" class="viewInput"><arg key="table" value="span_docs_v"/></operator>
        <operator name="mask" class="maskRepeatedSpans">
          <arg key="id" value="id"/><arg key="text" value="txt"/>
          <arg key="width" value="5"/><arg key="minDf" value="2"/>
        </operator>
        <connect from="src.outport1" to="mask.inport1"/>
      </pipeline>"""), spark)
    val got = ports("mask.outport1").collect().map(_.toSeq).toSet
    val want = GraftOps.maskRepeatedSpans(docs, col("id"), col("txt"),
      width = 5, minDf = 2).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("intervalJoin == theta join, one row per pair, null/inverted drop") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      // spans 3 one-minute buckets — overlapping pairs must emit ONCE
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:02:30")),
      (2L, ts("2024-01-01 10:05:00"), ts("2024-01-01 10:05:10")),
      (3L, ts("2024-01-01 11:00:00"), ts("2024-01-01 10:00:00")), // inverted
      (4L, null.asInstanceOf[Timestamp], ts("2024-01-01 10:00:00")))
      .toDF("lid", "ls", "le")
    val right = Seq(
      (10L, ts("2024-01-01 10:01:00"), ts("2024-01-01 10:06:00")), // hits 1 AND 2
      (11L, ts("2024-01-01 10:02:30"), ts("2024-01-01 10:02:40")), // touches 1 (closed)
      (12L, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:01:00")), // no overlap
      (13L, ts("2024-01-01 10:00:00"), null.asInstanceOf[Timestamp]))
      .toDF("rid", "rs", "re")
    val got = GraftOps.intervalJoin(left, right, col("ls"), col("le"),
        col("rs"), col("re"), spanUs = 60000000L)
      .select(col("lid"), col("r_rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly once per overlapping pair, despite shared buckets
    assert(got.length == got.toSet.size, "no duplicate pair emissions")
    assert(got.toSet == Set((1L, 10L), (1L, 11L), (2L, 10L)))
    // law: equals the all-pairs theta join (the shape the op refuses to plan)
    val theta = left.filter(col("ls").isNotNull && col("le").isNotNull &&
        col("ls") <= col("le"))
      .crossJoin(right.filter(col("rs").isNotNull && col("re").isNotNull &&
        col("rs") <= col("re")).select(col("rid").as("r_rid"),
        col("rs").as("r_rs"), col("re").as("r_re")))
      .filter(col("ls") <= col("r_re") && col("r_rs") <= col("le"))
      .select(col("lid"), col("r_rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == theta.toSet && theta.length == theta.toSet.size)
    // keyed form: same pairs restricted to matching keys
    val lk = left.withColumn("k", col("lid") % 2)
    val rk = right.withColumn("k", col("rid") % 2)
    val keyed = GraftOps.intervalJoin(lk, rk, col("ls"), col("le"),
        col("rs"), col("re"), spanUs = 60000000L, key = Some(("k", "k")))
      .select(col("lid"), col("r_rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keyed == Set((1L, 11L), (2L, 10L)), // (1,10) differs in parity
      s"keyed intervalJoin restricts by equi-key: $keyed")
    // reserved working names fail loudly instead of being clobbered
    val clash = left.withColumn("__b", lit(1))
    val ex = intercept[IllegalArgumentException] {
      GraftOps.intervalJoin(clash, right, col("ls"), col("le"),
        col("rs"), col("re"), spanUs = 60000000L)
    }
    assert(ex.getMessage.contains("__b"), s"names the clash: ${ex.getMessage}")
    // a right USER column starting with __ gets the prefix (it used to
    // escape the rename and collide ambiguously with left columns)
    val rUnd = right.withColumn("__note", lit("x"))
    val cols = GraftOps.intervalJoin(left, rUnd, col("ls"), col("le"),
      col("rs"), col("re"), spanUs = 60000000L).columns.toSet
    assert(cols.contains("r___note") && !cols.contains("__note"),
      s"right __-columns are prefixed too: $cols")
  }

  test("goldenRecord: per-field latest non-null winners, all-null field stays null") {
    import spark.implicits._
    val log = Seq(
      // key 1: name set at v1, email at v2 (name null), name UPDATED v3
      (1L, 1L, 10L, "alice", null.asInstanceOf[String]),
      (1L, 2L, 11L, null.asInstanceOf[String], "a@x.com"),
      (1L, 3L, 12L, "alicia", null.asInstanceOf[String]),
      // key 2: email never set
      (2L, 1L, 13L, "bob", null.asInstanceOf[String]))
      .toDF("k", "v", "seq", "name", "email")
    val out = GraftOps.goldenRecord(log, Seq(col("k")), "v", "seq",
        Seq("name", "email"))
      .orderBy("k").collect()
    assert(out(0).getString(1) == "alicia" && out(0).getString(2) == "a@x.com",
      "each field keeps its OWN latest non-null writer")
    assert(out(0).getLong(3) == 3L, "last_v is the overall latest version")
    assert(out(1).getString(1) == "bob" && out(1).isNullAt(2),
      "a never-set field stays null")
    // survivorship vs apply: key 1's whole-row winner (v3) carries a
    // NULL email — applyChanges keeps that null, survivorship doesn't
    val applied = GraftOps.applyChanges(log, Seq(col("k")), col("v"),
        col("seq"), isDelete = lit(false))
      .filter(col("k") === 1).collect().head
    assert(applied.isNullAt(4) && out(0).getString(2) == "a@x.com",
      "apply keeps the winner ROW (email null); survivorship merges fields")
    // output-name collisions fail loudly, not as AMBIGUOUS_REFERENCE
    // three selects downstream
    intercept[IllegalArgumentException] {
      GraftOps.goldenRecord(log.withColumnRenamed("email", "last_v"),
        Seq(col("k")), "v", "seq", Seq("name", "last_v"))
    }
    intercept[IllegalArgumentException] {
      GraftOps.goldenRecord(log, Seq(col("k")), "v", "seq",
        Seq("name", "name"))
    }
  }

  test("winsorize: tails clamp to order statistics, inliers bit-identical") {
    import spark.implicits._
    val df = ((1 to 20).map(i => ("a", i.toDouble)) ++
      Seq(("b", 100.0), ("b", 200.0), ("b", 300.0))).toDF("g", "v")
    val out = GraftOps.winsorize(df, col("g"), col("v"), 0.1, 0.9)
      .orderBy("g", "v").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val a = out.filter(_._1 == "a")
    // discrete p10 of 1..20 = 2 (smallest with cume_dist >= .1), p90 = 18
    assert(a.map(_._3).min == 2.0 && a.map(_._3).max == 18.0)
    // inliers pass through bit-identical, rows never dropped
    assert(a.count(t => t._2 == t._3) == 17 && out.length == 23)
    // bounds are ACTUAL data values, never interpolations
    val b = out.filter(_._1 == "b").map(_._3)
    assert(b.forall(Set(100.0, 200.0, 300.0)), s"order statistics only: ${b.toSeq}")
    // NULL values pass through NULL
    val n = GraftOps.winsorize(
        Seq(("a", Some(1.0)), ("a", None), ("a", Some(9.0))).toDF("g", "v"),
        col("g"), col("v"), 0.1, 0.9)
      .filter(col("v").isNull).collect()
    assert(n.length == 1 && n(0).isNullAt(2))
    intercept[IllegalArgumentException] {
      GraftOps.winsorize(df, col("g"), col("v"), 0.9, 0.1)
    }
    // a NULL group is a group like any other: rows survive (null-safe
    // join) and clamp against the null group's own band
    val ng = GraftOps.winsorize(
        (Seq((None: Option[String], 1.0), (None, 50.0), (None, 99.0)) ++
          (1 to 10).map(i => (Some("a"), i.toDouble))).toDF("g", "v"),
        col("g"), col("v"), 0.1, 0.9)
      .filter(col("g").isNull).orderBy("v").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(ng.length == 3, "no NULL-group row may be dropped")
    assert(ng.toSeq == Seq((1.0, 1.0), (50.0, 50.0), (99.0, 99.0)),
      s"null group clamps within its own band: ${ng.toSeq}")
    // the clamped column keeps the VALUE column's type — in-band
    // integral values pass through without a double round-trip
    val lt = GraftOps.winsorize(
        (1L to 20L).map(i => ("a", i)).toDF("g", "v"),
        col("g"), col("v"), 0.1, 0.9)
    assert(lt.schema("clamped").dataType ==
      org.apache.spark.sql.types.LongType)
    val lr = lt.orderBy("v").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(lr.count(t => t._1 == t._2) == 17 &&
      lr.map(_._2).min == 2L && lr.map(_._2).max == 18L)
  }

  test("cohortRetention: triangle shape over multi-cohort fixture, exact ppm") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // cohort W1 (Mon 2024-01-01): users 1,2,3; W2: users 4,5
    val ev = Seq(
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-09 10:00:00")),
      (1L, ts("2024-01-16 10:00:00")),
      (2L, ts("2024-01-03 10:00:00")), (2L, ts("2024-01-10 10:00:00")),
      (3L, ts("2024-01-04 10:00:00")),
      (4L, ts("2024-01-08 10:00:00")), (4L, ts("2024-01-15 10:00:00")),
      (5L, ts("2024-01-09 10:00:00")))
      .toDF("u", "t")
    val out = GraftOps.cohortRetention(ev, col("u"), col("t"), "week")
      .orderBy("cohort", "period_offset").collect()
      .map(r => (r.getTimestamp(0).toString.substring(0, 10), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0L, 3L, 3L, 1000000L),
      ("2024-01-01", 1L, 2L, 3L, 666666L), // users 1,2 back in W2 — trunc div
      ("2024-01-01", 2L, 1L, 3L, 333333L),
      ("2024-01-08", 0L, 2L, 2L, 1000000L),
      ("2024-01-08", 1L, 1L, 2L, 500000L)), s"triangle: ${out.toSeq}")
    intercept[IllegalArgumentException] {
      GraftOps.cohortRetention(ev, col("u"), col("t"), "fortnight")
    }
  }

  test("funnel: order, strictness, horizon, and no stage-skipping") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: clean A -> B -> C
      (1L, ts("2024-01-01 10:00:00"), "A"), (1L, ts("2024-01-01 11:00:00"), "B"),
      (1L, ts("2024-01-01 12:00:00"), "C"),
      // user 2: B BEFORE the first A must not count; later B does
      (2L, ts("2024-01-01 09:00:00"), "B"), (2L, ts("2024-01-01 10:00:00"), "A"),
      (2L, ts("2024-01-01 11:00:00"), "B"),
      // user 3: B at EXACTLY t_A — strictly-after excludes it
      (3L, ts("2024-01-01 10:00:00"), "A"), (3L, ts("2024-01-01 10:00:00"), "B"),
      // user 4: B beyond the horizon of A
      (4L, ts("2024-01-01 10:00:00"), "A"), (4L, ts("2024-01-03 10:00:01"), "B"),
      // user 5: C without B — must NOT reach stage 3 (no skipping)
      (5L, ts("2024-01-01 10:00:00"), "A"), (5L, ts("2024-01-01 11:00:00"), "C"),
      // user 6: never starts
      (6L, ts("2024-01-01 10:00:00"), "Z"))
      .toDF("u", "t", "s")
    val out = GraftOps.funnel(ev, col("u"), col("t"), col("s"),
        Seq("A", "B", "C"), horizonUs = 2L * 86400 * 1000000)
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getInt(4))).toMap
    assert(out == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 1, 5L -> 1, 6L -> 0),
      s"stage semantics: $out")
    // t columns are null from the first unreached stage on
    val u5 = GraftOps.funnel(ev, col("u"), col("t"), col("s"),
        Seq("A", "B", "C"), horizonUs = 2L * 86400 * 1000000)
      .filter(col("key") === 5).collect().head
    assert(!u5.isNullAt(1) && u5.isNullAt(2) && u5.isNullAt(3),
      "C without B leaves both t_B and t_C null")
    // stage names become t_<stage> columns: a dot would parse as struct
    // access deep in the plan — the API boundary rejects it instead
    val bad = intercept[IllegalArgumentException] {
      GraftOps.funnel(ev, col("u"), col("t"), col("s"),
        Seq("A", "b.c"), horizonUs = 1000000L)
    }
    assert(bad.getMessage.contains("b.c"), s"names the bad stage: ${bad.getMessage}")
    // ONLY dots/backticks are the hazard — a non-ASCII stage name is
    // legal (review r16: an allowlist regex rejected these)
    val intl = GraftOps.funnel(ev, col("u"), col("t"), col("s"),
      Seq("señal", "étape"), horizonUs = 1000000L)
    assert(intl.columns.contains("t_señal") &&
      intl.columns.contains("t_étape"), "non-ASCII stage names resolve")
  }

  test("editDistanceJoin: typo pairs found, short keys exact-only, df-cap contract") {
    import spark.implicits._
    val df = Seq(
      (1L, "wonderful-widget-2000"),
      (2L, "wonderful-widgat-2000"),  // 1 substitution from 1
      (3L, "wonderful-gadget-9999"),  // far from everything (dist > 2)
      (4L, "xy"),                     // short: near-miss of 5 NOT found…
      (5L, "zz"),                     // …but identical short keys pair at 0
      (6L, "wonderful-widget-200"),   // 1 deletion from 1, 2 from 2
      (7L, "zz"))                     // byte-identical to 5 → (5,7,0)
      .toDF("id", "key")
    val got = GraftOps.editDistanceJoin(df, col("id"), col("key"), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (1L, 6L, 1L), (2L, 6L, 2L), (5L, 7L, 0L)),
      s"planted typo pairs at exact distances + short-key exact pair: $got")
    // pairs always ordered id_a < id_b, each emitted once
    assert(got.forall { case (a, b, _) => a < b })
    // df-cap: two near keys whose EVERY gram is shared by > cap other
    // rows are missed (the documented stopword-gram contract) and found
    // again when the cap clears
    val hot = (1L to 30L).map(i => (100L + i, "aaaaaaaaaa")) ++
      Seq((200L, "aaaaaaaaab"))
    val hotDf = hot.toDF("id", "key")
    val capped = GraftOps.editDistanceJoin(hotDf, col("id"), col("key"),
      maxDist = 2, dfCap = 5).count()
    val uncapped = GraftOps.editDistanceJoin(hotDf, col("id"), col("key"),
      maxDist = 2, dfCap = 1000).count()
    assert(capped == 0 && uncapped == 30L * 29 / 2 + 30,
      s"df-cap drops hot-gram-only pairs: capped=$capped uncapped=$uncapped")
  }

  test("applyChanges: latest wins, tombstones drop keys, ties break on tiebreak") {
    import spark.implicits._
    val log = Seq(
      // key 1: two updates, latest (v=3) wins
      (1L, 1L, 10L, "u", "a"), (1L, 3L, 11L, "u", "b"),
      // key 2: update then delete -> key vanishes
      (2L, 1L, 12L, "u", "c"), (2L, 2L, 13L, "d", ""),
      // key 3: delete then REINSERT after -> key lives with the later row
      (3L, 1L, 14L, "d", ""), (3L, 2L, 15L, "u", "e"),
      // key 4: version tie -> larger tiebreak wins
      (4L, 1L, 16L, "u", "first"), (4L, 1L, 17L, "u", "second"),
      // key 5: NULL op wins — a null delete flag is NOT a tombstone
      // (op === "d" evaluates NULL; the key must survive, not vanish)
      (5L, 1L, 18L, null.asInstanceOf[String], "n1"))
      .toDF("k", "v", "seq", "op", "payload")
    val got = GraftOps.applyChanges(log, Seq(col("k")), col("v"), col("seq"),
        isDelete = col("op") === "d")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(4)))
    assert(got.toSeq == Seq((1L, "b"), (3L, "e"), (4L, "second"), (5L, "n1")))
    // law: the one-agg max_by plan == the row_number-window formulation
    // (what the q96 oracle states)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("v").desc, col("seq").desc)
    val viaWindow = log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && coalesce(col("op") =!= "d", lit(true)))
      .drop("__rn")
    val a = GraftOps.applyChanges(log, Seq(col("k")), col("v"), col("seq"),
      isDelete = col("op") === "d")
    assert(a.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(a).isEmpty)
  }

  test("scd2: intervals chain per key, deletes close without emitting") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 100L, "u"),
      (1L, ts("2024-01-02 00:00:00"), 101L, "u"),
      (1L, ts("2024-01-03 00:00:00"), 102L, "u"),
      (2L, ts("2024-01-01 00:00:00"), 103L, "u"),
      (2L, ts("2024-01-05 00:00:00"), 104L, "d"), // hard delete closes key 2
      (3L, ts("2024-01-04 00:00:00"), 105L, "u"))
      .toDF("k", "t", "seq", "op")
    val out = GraftOps.scd2(log, Seq(col("k")), col("t"), col("seq"),
        isDelete = col("op") === "d")
      .orderBy("k", "effective_from").collect()
    // key 1: 3 chained rows, last one open + current
    val k1 = out.filter(_.getLong(0) == 1L)
    assert(k1.length == 3)
    assert((0 until 2).forall(i =>
      k1(i).getAs[Timestamp]("effective_to") ==
        k1(i + 1).getAs[Timestamp]("effective_from")), "intervals chain")
    assert(k1.map(_.getAs[Boolean]("is_current")).toSeq ==
      Seq(false, false, true))
    // key 2: ONE row (the delete emits none), closed by the delete's ts,
    // and NOT current — a hard-deleted key has no open row
    val k2 = out.filter(_.getLong(0) == 2L)
    assert(k2.length == 1 &&
      k2(0).getAs[Timestamp]("effective_to") == ts("2024-01-05 00:00:00") &&
      !k2(0).getAs[Boolean]("is_current"))
    // key 3: single open current row
    val k3 = out.filter(_.getLong(0) == 3L)
    assert(k3.length == 1 && k3(0).getAs[Boolean]("is_current") &&
      k3(0).getAs[Timestamp]("effective_to") == null)
    // law: current rows == applyChanges survivors (same changelog, same
    // tombstone rule) — the two consumers of one changelog agree
    val current = GraftOps.scd2(log, Seq(col("k")), col("t"), col("seq"),
        isDelete = col("op") === "d")
      .filter(col("is_current")).select(col("k"), col("t"), col("seq"), col("op"))
    val applied = GraftOps.applyChanges(log, Seq(col("k")), col("t"), col("seq"),
      isDelete = col("op") === "d")
    assert(current.exceptAll(applied).isEmpty &&
      applied.exceptAll(current).isEmpty)
  }

  test("rboCompare: identical/disjoint closed forms, hand-computed partial overlap, inner-join semantics, guards") {
    import spark.implicits._
    val p = 0.9
    def ranking(q: Long, ds: Seq[String]) =
      ds.zipWithIndex.map { case (d, i) => (q, d, (i + 1).toLong) }
    // identical rankings → RBO = (1-p)·Σ p^(i-1) = 1 − p^depth
    val same = ranking(1L, Seq("a", "b", "c", "d")).toDF("q", "d", "r")
    val rSame = GraftOps.rboCompare(same, same, col("q"), col("d"),
      col("r"), pPpm = 900000L, depth = 4).collect()(0)
    assert(math.abs(rSame.getDouble(1) - (1.0 - math.pow(p, 4))) < 1e-12,
      s"identical rankings hit the geometric closed form: $rSame")
    assert(rSame.getInt(4) == 4)
    // disjoint rankings → RBO = 0 exactly
    val other = ranking(1L, Seq("x", "y", "z", "w")).toDF("q", "d", "r")
    val rDis = GraftOps.rboCompare(same, other, col("q"), col("d"),
      col("r"), 900000L, 4).collect()(0)
    assert(rDis.getDouble(1) == 0.0 && rDis.getInt(4) == 0)
    // hand-computed partial overlap at depth 2, p = 0.5:
    // A = [a, b], B = [b, a]: inter_1 = 0, inter_2 = 2
    // → rbo = 0.5 · (1·0 + 0.5·(2/2)) = 0.25
    val a2 = ranking(1L, Seq("a", "b")).toDF("q", "d", "r")
    val b2 = ranking(1L, Seq("b", "a")).toDF("q", "d", "r")
    val rHalf = GraftOps.rboCompare(a2, b2, col("q"), col("d"), col("r"),
      pPpm = 500000L, depth = 2).collect()(0)
    assert(math.abs(rHalf.getDouble(1) - 0.25) < 1e-15,
      s"hand-computed swap case: $rHalf")
    // inner-join semantics: a query on one side only does not report
    val aq = (ranking(1L, Seq("a")) ++ ranking(2L, Seq("a")))
      .toDF("q", "d", "r")
    val bq = ranking(1L, Seq("a")).toDF("q", "d", "r")
    assert(GraftOps.rboCompare(aq, bq, col("q"), col("d"), col("r"),
      900000L, 4).count() == 1L)
    intercept[IllegalArgumentException] {
      GraftOps.rboCompare(same, other, col("q"), col("d"), col("r"),
        1000000L, 4)
    }
    intercept[IllegalArgumentException] {
      GraftOps.rboCompare(same, other, col("q"), col("d"), col("r"),
        900000L, 0)
    }
    // state bound: an over-length (corpus-scale) ranking input is
    // truncated to the top `depth` by rank order BEFORE the list
    // collect — result identical to feeding the pre-truncated prefix,
    // including with SPARSE ranks (order, not value, decides the cut)
    val longA = ranking(1L, (1 to 500).map(i => f"d$i%04d")).toDF("q", "d", "r")
    val longB = ranking(1L, (1 to 500).map(i => f"e$i%04d")
      .updated(0, "d0001")).toDF("q", "d", "r")
    val sparseA = longA.withColumn("r", col("r") * 1000L) // sparse ranks
    val full = GraftOps.rboCompare(longA, longB, col("q"), col("d"),
      col("r"), 900000L, 4).collect()(0)
    val pre = GraftOps.rboCompare(longA.filter(col("r") <= 4),
      longB.filter(col("r") <= 4), col("q"), col("d"), col("r"),
      900000L, 4).collect()(0)
    val sparse = GraftOps.rboCompare(sparseA, longB, col("q"), col("d"),
      col("r"), 900000L, 4).collect()(0)
    assert(full.getDouble(1) == pre.getDouble(1) &&
      full.getInt(2) == 4 && full.getInt(3) == 4,
      s"over-length ranking == pre-truncated prefix: $full vs $pre")
    assert(sparse.getDouble(1) == full.getDouble(1),
      s"sparse rank values cut at the same ORDER boundary: $sparse")
  }

  test("profileDrift: common/added/removed statuses, exact ppm deltas, NULL on schema drift") {
    import spark.implicits._
    val base = Seq((Option(1L), Option("a")), (Option(2L), Option.empty[String]),
      (Option.empty[Long], Option("b"))).toDF("k", "v")
    val cur = base.filter(col("k").isNotNull)
      .withColumn("w", lit(1)).drop("v")
    val got = GraftOps.profileDrift(base, cur).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("k", "v", "w"))
    val k = got("k")
    assert(k.getString(1) == "common" && k.getLong(2) == 3L &&
      k.getLong(3) == 2L, s"common row counts: $k")
    // base k: 1 NULL of 3 → 333333 ppm; cur k: 0 of 2 → 0; delta exact
    assert(k.getLong(4) == 333333L && k.getLong(5) == 0L &&
      k.getLong(6) == -333333L, s"exact integer ppm delta: $k")
    assert(k.getLong(7) == 2L && k.getLong(8) == 2L && k.getLong(9) == 0L)
    val v = got("v")
    assert(v.getString(1) == "removed" && v.isNullAt(3) && v.isNullAt(5) &&
      v.isNullAt(6) && v.isNullAt(9),
      s"removed column: cur side and deltas NULL: $v")
    val w = got("w")
    assert(w.getString(1) == "added" && w.isNullAt(2) && w.isNullAt(4) &&
      w.isNullAt(6) && w.getLong(8) == 1L,
      s"added column: base side and deltas NULL: $w")
  }

  test("proximityTopK: window semantics, pair-coverage grain, tie order, guards") {
    import spark.implicits._
    // query terms: alpha, beta. doc 1 has them adjacent; doc 2 has them
    // 7 apart (outside window 6); doc 3 has only alpha
    val docs = Seq(
      (1L, "alpha beta filler filler filler"),
      (2L, "alpha w1 w2 w3 w4 w5 w6 beta"),
      (3L, "alpha filler filler filler filler"))
      .toDF("doc_id", "text")
    val qs = Seq((10L, "alpha beta")).toDF("qid", "qtext")
    val got = GraftOps.proximityTopK(docs, col("doc_id"), col("text"),
        qs, col("qid"), col("qtext"), window = 6, k = 5)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    // doc 1: pair within window (1 prox pair, 2 terms); doc 2: both
    // terms but 7 apart (0 pairs, 2 terms); doc 3: alpha only
    assert(got.toSeq == Seq((1L, 1, 1L, 2L), (2L, 2, 0L, 2L),
      (3L, 3, 0L, 1L)), s"ranking and scores: ${got.toSeq}")
    // coverage grain: a doc repeating the pair many times still counts
    // it ONCE (0/1 per term pair), and a late occurrence inside the
    // window is found — no position cap to miss it
    val rep = Seq((7L, "alpha f1 f2 f3 f4 f5 f6 f7 alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val r1 = GraftOps.proximityTopK(rep, col("doc_id"), col("text"),
        qs, col("qid"), col("qtext"), window = 6, k = 5)
      .collect()(0)
    assert(r1.getLong(3) == 1L && r1.getLong(4) == 2L,
      s"pair coverage is 0/1 per term pair: $r1")
    intercept[IllegalArgumentException] {
      GraftOps.proximityTopK(docs, col("doc_id"), col("text"), qs,
        col("qid"), col("qtext"), window = 0)
    }
  }

  test("gramMatrix/pcaFit/pcaProject: exact gram, eigen laws, planted direction, centering, determinism") {
    import spark.implicits._
    // planted 4-dim data: dominant variance along (1,1,0,0)/sqrt(2),
    // a constant-ish third dim, small noise elsewhere
    val rnd = new scala.util.Random(7)
    val data = IndexedSeq.tabulate(400) { _ =>
      val t = rnd.nextGaussian() * 2.0
      val n1 = rnd.nextGaussian() * 0.05
      val n2 = rnd.nextGaussian() * 0.05
      IndexedSeq((t + n1).toFloat, (t - n1).toFloat, (0.3 + n2).toFloat,
        (rnd.nextGaussian() * 0.1).toFloat)
    }
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    // gram == brute force over the same floor-micros quantization
    def qz(x: Float) = math.floor(x.toDouble * 1e6).toLong
    val got = GraftOps.gramMatrix(df, col("v"), 4).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val want = (for { i <- 0 until 4; j <- i until 4 } yield
      ((i, j), data.map(v => qz(v(i)) * qz(v(j))).sum)).toMap
    assert(got == want, "gram matrix == brute-force reference")
    // fit laws
    val modelDf = GraftOps.pcaFit(df, col("v"), 4, 4)
    val model = modelDf.collect()
    val comps = model.filter(_.getInt(0) >= 0)
    val vecs = (0 until 4).map(c => (0 until 4).map(d =>
      comps.find(r => r.getInt(0) == c && r.getInt(1) == d).get.getDouble(2)))
    val vals = (0 until 4).map(c =>
      comps.find(_.getInt(0) == c).get.getDouble(3))
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b - 1e-12 },
      s"eigenvalues descending: $vals")
    for (a <- 0 until 4; b <- 0 until 4) {
      val dot = (0 until 4).map(d => vecs(a)(d) * vecs(b)(d)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9,
        s"orthonormality ($a,$b): $dot")
    }
    // eigen residual against the covariance rebuilt in the test
    val nn = data.length.toDouble
    val qd = data.map(_.map(qz))
    val mu = (0 until 4).map(d => qd.map(_(d)).sum * 1e-6 / nn)
    val cov = Array.tabulate(4, 4)((i, j) =>
      qd.map(v => v(i) * v(j)).sum * 1e-12 / nn - mu(i) * mu(j))
    for (c <- 0 until 4) {
      val cv = (0 until 4).map(i =>
        (0 until 4).map(j => cov(i)(j) * vecs(c)(j)).sum)
      val resid = math.sqrt((0 until 4)
        .map(i => math.pow(cv(i) - vals(c) * vecs(c)(i), 2)).sum)
      assert(resid < 1e-8, s"eigen residual c=$c: $resid")
    }
    // planted direction recovered; sign pin (largest-|.| entry positive)
    val e = 1.0 / math.sqrt(2.0)
    assert(math.abs(vecs(0)(0) - e) < 0.02 && math.abs(vecs(0)(1) - e) < 0.02 &&
      math.abs(vecs(0)(2)) < 0.05 && math.abs(vecs(0)(3)) < 0.05,
      s"planted (1,1,0,0)/sqrt2 direction: ${vecs(0)}")
    assert(vecs.forall(vv =>
      vv(vv.indices.maxBy(i => (math.abs(vv(i)), -i))) > 0.0), "sign pin")
    // determinism: a second fit is bit-identical
    val model2 = GraftOps.pcaFit(df, col("v"), 4, 4).collect()
    assert(model.map(_.toSeq).toSeq == model2.map(_.toSeq).toSeq,
      "run-to-run determinism")
    // projection: centered scores, descending projected variance,
    // full-k reconstruction
    val proj = GraftOps.pcaProject(df, col("v"), modelDf, 4)
      .orderBy("id").select("proj").collect().map(_.getSeq[Double](0))
    val pmean = (0 until 4).map(c => proj.map(_(c)).sum / proj.length)
    assert(pmean.forall(m => math.abs(m) < 1e-5), s"centered scores: $pmean")
    val pvar = (0 until 4).map { c =>
      val xs = proj.map(_(c)); val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    assert(pvar.zip(pvar.tail).forall { case (a, b) => a >= b - 1e-9 },
      s"projected variance descending: $pvar")
    val x0 = data.head.map(_.toDouble)
    val recon = (0 until 4).map(d =>
      mu(d) + (0 until 4).map(c => proj.head(c) * vecs(c)(d)).sum)
    val rerr = math.sqrt((0 until 4).map(d => math.pow(recon(d) - x0(d), 2)).sum)
    assert(rerr < 1e-4, s"full-k reconstruction error: $rerr")
    intercept[IllegalArgumentException] {
      GraftOps.pcaFit(df, col("v"), 4, 5)
    }
    // wrong-length vectors fail loudly at projection time
    val bad = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val ex = intercept[Exception] {
      GraftOps.pcaProject(bad, col("v"), modelDf, 4).collect()
    }
    assert(ex.getMessage.contains("expected 4-component") ||
      Option(ex.getCause).exists(_.getMessage.contains("expected 4-component")),
      s"loud shape failure: ${ex.getMessage}")
    // ...and at FIT time too: GramAgg rejects wrong-length and
    // non-finite vectors instead of silently zero-padding/truncating
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder(Option(c.getMessage).getOrElse(""))
      while (c.getCause != null) { c = c.getCause
        sb.append(" | ").append(Option(c.getMessage).getOrElse("")) }
      sb.toString
    }
    val exFit = intercept[Exception] {
      GraftOps.gramMatrix(bad, col("v"), 4).collect()
    }
    assert(rootMsg(exFit).contains("embedding length 3 != declared dim 4"),
      s"loud fit-time shape failure: ${rootMsg(exFit)}")
    val nan = Seq((1L, Seq(1.0f, Float.NaN, 3.0f, 4.0f))).toDF("id", "v")
    val exNan = intercept[Exception] {
      GraftOps.gramMatrix(nan, col("v"), 4).collect()
    }
    assert(rootMsg(exNan).contains("non-finite component"),
      s"loud non-finite failure: ${rootMsg(exNan)}")
    // NULL vectors are absent, not malformed: skipped, count unaffected
    val withNull = df.union(Seq((9999L, Option.empty[Seq[Float]]))
      .toDF("id", "v"))
    assert(GraftOps.gramMatrix(withNull, col("v"), 4).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap == got,
      "NULL embedding rows are skipped")
  }

  test("calibrationReport: hand-computed bins, 1.0 clamps to the last bucket, NULL drop, loud out-of-range, guards") {
    import spark.implicits._
    val rows = Seq(
      (0.05, true), (0.08, false),          // bucket 0: n=2, pos=1
      (0.55, true), (0.58, true),           // bucket 5: n=2, pos=2
      (1.0, true),                          // exactly 1.0 → bucket 9
      (0.95, false))                        // bucket 9: with ↑ n=2, pos=1
      .map { case (s, l) => (Option(s), Option(l)) } ++
      Seq((None, Option(true)), (Option(0.5), Option.empty[Boolean]))
    val df = rows.toDF("s", "l")
    val got = GraftOps.calibrationReport(df, col("s"), col("l"), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (0, 2L, 1L, 130000L, 500000L),
      (5, 2L, 2L, 1130000L, 1000000L),
      (9, 2L, 1L, 1950000L, 500000L)),
      s"hand-computed reliability diagram: ${got.toSeq}")
    val ex = intercept[Exception] {
      GraftOps.calibrationReport(Seq((1.5, true)).toDF("s", "l"),
        col("s"), col("l"), 10).collect()
    }
    def msgs(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => " | " + msgs(c)).getOrElse("")
    assert(msgs(ex).contains("score outside [0,1]"), s"loud: ${msgs(ex)}")
    intercept[IllegalArgumentException] {
      GraftOps.calibrationReport(df, col("s"), col("l"), 1)
    }
  }

  test("aucReport: perfect/reversed/all-tied closed forms, hand-computed ties, NULL drop, single-class loud") {
    import spark.implicits._
    def auc(rows: Seq[(Double, Boolean)]): (Long, Long, Long) = {
      val r = GraftOps.aucReport(rows.toDF("s", "l"), col("s"), col("l"))
        .collect()(0)
      (r.getAs[Long]("u2"), r.getAs[Long]("denom"), r.getAs[Long]("auc_ppm"))
    }
    // perfect separation → AUC = 1; reversed → 0
    val sep = Seq((0.1, false), (0.2, false), (0.8, true), (0.9, true))
    assert(auc(sep) == (8L, 8L, 1000000L), s"perfect: ${auc(sep)}")
    val rev = sep.map { case (s, l) => (s, !l) }
    assert(auc(rev) == (0L, 8L, 0L), s"reversed: ${auc(rev)}")
    // all scores tied → AUC = 1/2 exactly (u2 == n_pos·n_neg)
    val tied = Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false))
    assert(auc(tied) == (4L, 8L, 500000L), s"all-tied: ${auc(tied)}")
    // hand-computed mixed ties: scores (1,−), (2,+), (2,−), (3,+)
    // pairs: (+2,−1)=1, (+2,−2)=tie ½, (+3,−1)=1, (+3,−2)=1 → U=3.5 of 4
    val mixed = Seq((1.0, false), (2.0, true), (2.0, false), (3.0, true))
    assert(auc(mixed) == (7L, 8L, 875000L), s"mixed ties: ${auc(mixed)}")
    // NULL score/label rows drop before anything
    val withNulls = mixed.map { case (s, l) => (Option(s), Option(l)) } ++
      Seq((None, Option(true)), (Option(9.9), Option.empty[Boolean]))
    val rn = GraftOps.aucReport(withNulls.toDF("s", "l"), col("s"), col("l"))
      .collect()(0)
    assert(rn.getAs[Long]("n") == 4L && rn.getAs[Long]("auc_ppm") == 875000L)
    // single-class input is loud, never NaN
    val ex = intercept[Exception] {
      GraftOps.aucReport(Seq((0.1, true), (0.9, true)).toDF("s", "l"),
        col("s"), col("l")).collect()
    }
    def msgs(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => " | " + msgs(c)).getOrElse("")
    assert(msgs(ex).contains("single-class or empty"), s"loud: ${msgs(ex)}")
    // EMPTY input (and all-NULL input) is loud too — the global agg
    // yields one all-NULL row and `=== 0` alone would evaluate NULL,
    // silently emitting a NULL report row (r19 ADVICE finding)
    val exEmpty = intercept[Exception] {
      GraftOps.aucReport(Seq.empty[(Double, Boolean)].toDF("s", "l"),
        col("s"), col("l")).collect()
    }
    assert(msgs(exEmpty).contains("single-class or empty"),
      s"empty loud: ${msgs(exEmpty)}")
    val exAllNull = intercept[Exception] {
      GraftOps.aucReport(
        Seq((Option.empty[Double], Option(true))).toDF("s", "l"),
        col("s"), col("l")).collect()
    }
    assert(msgs(exAllNull).contains("single-class or empty"),
      s"all-NULL loud: ${msgs(exAllNull)}")
    // the guard survives COLUMN PRUNING: a consumer projecting only
    // auc_ppm still gets the NAMED error, not a raw divide-by-zero or
    // a silent NULL (the guard is a filter, not a projected column —
    // r20 self-review finding, failure measured before the fix)
    val exPruned = intercept[Exception] {
      GraftOps.aucReport(Seq((0.1, true), (0.9, true)).toDF("s", "l"),
        col("s"), col("l")).select("auc_ppm").collect()
    }
    assert(msgs(exPruned).contains("single-class or empty"),
      s"projection-proof guard: ${msgs(exPruned)}")
    // NaN and ±Inf scores are loud in BOTH tiers (r21, ADVICE #3): the
    // exact tier would rank NaN above every real score while the micros
    // tier's floor→long cast saturates ±Inf to ±Long.Max — two silently
    // different answers for garbage input
    for (tier <- Seq(false, true);
         bad <- Seq(Double.NaN, Double.PositiveInfinity,
           Double.NegativeInfinity)) {
      val exNan = intercept[Exception] {
        val df = Seq((0.1, true), (bad, false)).toDF("s", "l")
        (if (tier) GraftOps.aucReportMicros(df, col("s"), col("l"))
         else GraftOps.aucReport(df, col("s"), col("l"))).collect()
      }
      assert(msgs(exNan).contains("NaN or infinite score"),
        s"non-finite loud ($tier, $bad): ${msgs(exNan)}")
    }
  }

  test("aucReportMicros: bit-equal to the exact tier on quantized inputs; coarsens sub-micro distinctions to ties") {
    import spark.implicits._
    // tier-equality law (the q69/q70b pattern): on scores already
    // quantized at micros — integer-valued here — the quantized tier
    // is BIT-EQUAL to the exact tier
    val quantized = Seq((1.0, false), (2.0, true), (2.0, false), (3.0, true),
      (7.0, false), (9.0, true))
    val exact = GraftOps.aucReport(quantized.toDF("s", "l"),
      col("s"), col("l")).collect().map(_.toSeq).toSeq
    val micros = GraftOps.aucReportMicros(quantized.toDF("s", "l"),
      col("s"), col("l")).collect().map(_.toSeq).toSeq
    assert(micros == exact, s"tier equality: $micros != $exact")
    // sub-micro distinctions COARSEN to ties (the stated precision
    // contract): two scores inside one micro bucket become a tie —
    // exact tier sees perfect separation (AUC 1); micros tier scores
    // one +/− pair as a tie: U = (1 + ½ + 1 + 1)/4 = 0.875
    val fine = Seq((0.1000001, false), (0.10000011, true), (0.9, true),
      (0.05, false))
    val fineExact = GraftOps.aucReport(fine.toDF("s", "l"), col("s"), col("l"))
      .collect()(0).getAs[Long]("auc_ppm")
    val fineMicros = GraftOps.aucReportMicros(fine.toDF("s", "l"),
      col("s"), col("l")).collect()(0).getAs[Long]("auc_ppm")
    assert(fineExact == 1000000L && fineMicros == 875000L,
      s"coarsening: exact $fineExact, micros $fineMicros")
  }

  test("aucReportBy: per-slice rows == per-slice global reports; window partitioned; single-class slice loud with the slice named; NULL group drops") {
    import spark.implicits._
    val rows = Seq(
      ("en", 0.1, false), ("en", 0.4, true), ("en", 0.4, false),
      ("en", 0.9, true),
      ("de", 0.2, true), ("de", 0.3, false), ("de", 0.8, true),
      ("fr", 0.5, true), ("fr", 0.6, false))
    val by = GraftOps.aucReportBy(rows.toDF("g", "s", "l"),
      col("g"), col("s"), col("l"))
    assert(by.columns.toSeq ==
      Seq("group", "n", "n_pos", "n_neg", "u2", "denom", "auc_ppm"))
    val got = by.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    // slice law: each group's row equals the global report on that slice
    for (g <- Seq("de", "en", "fr")) {
      val solo = GraftOps.aucReport(
        rows.filter(_._1 == g).map(t => (t._2, t._3)).toDF("s", "l"),
        col("s"), col("l")).collect()(0).toSeq
      assert(got(g) == solo, s"slice $g: ${got(g)} != $solo")
    }
    // output is ordered by group
    assert(by.collect().map(_.getString(0)).toSeq == Seq("de", "en", "fr"))
    // a single-class SLICE raises loudly and NAMES the slice
    def msgs(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => " | " + msgs(c)).getOrElse("")
    val oneClass = rows ++ Seq(("xx", 0.4, true), ("xx", 0.6, true))
    val ex = intercept[Exception] {
      GraftOps.aucReportBy(oneClass.toDF("g", "s", "l"),
        col("g"), col("s"), col("l")).collect()
    }
    assert(msgs(ex).contains("in group xx"), s"slice named: ${msgs(ex)}")
    // NULL group rows drop (no slice, no verdict); empty input → empty
    val withNullG = rows.map { case (g, s, l) => (Option(g), s, l) } ++
      Seq((Option.empty[String], 0.99, true))
    val gotNull = GraftOps.aucReportBy(withNullG.toDF("g", "s", "l"),
      col("g"), col("s"), col("l")).collect()
    assert(gotNull.length == 3 &&
      gotNull.map(r => r.getString(0) -> r.toSeq.drop(1)).toMap == got)
    assert(GraftOps.aucReportBy(Seq.empty[(String, Double, Boolean)]
      .toDF("g", "s", "l"), col("g"), col("s"), col("l")).count() == 0L)
    // the micros arg applies per slice (tier equality on quantized data)
    val q = Seq(("a", 1.0, true), ("a", 2.0, false), ("b", 3.0, false),
      ("b", 4.0, true))
    assert(GraftOps.aucReportBy(q.toDF("g", "s", "l"), col("g"), col("s"),
        col("l"), quantizeMicros = true).collect().map(_.toSeq).toSeq ==
      GraftOps.aucReportBy(q.toDF("g", "s", "l"), col("g"), col("s"),
        col("l")).collect().map(_.toSeq).toSeq)
  }

  test("calibrationReportBy: per-slice rows == per-slice global reports; NULL group drops") {
    import spark.implicits._
    val rows = Seq(
      ("en", 0.1, false), ("en", 0.12, true), ("en", 0.9, true),
      ("de", 0.3, false), ("de", 0.35, true), ("de", 0.95, true),
      ("de", 0.31, false))
    val by = GraftOps.calibrationReportBy(rows.toDF("g", "s", "l"),
      col("g"), col("s"), col("l"), 10)
    assert(by.columns.toSeq ==
      Seq("group", "bucket", "n", "n_pos", "sum_score_us", "pos_ppm"))
    val got = by.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.toSeq.drop(2)).toMap
    for (g <- Seq("de", "en")) {
      val solo = GraftOps.calibrationReport(
        rows.filter(_._1 == g).map(t => (t._2, t._3)).toDF("s", "l"),
        col("s"), col("l"), 10).collect()
        .map(r => (g, r.getInt(0)) -> r.toSeq.drop(1)).toMap
      assert(got.filter(_._1._1 == g) == solo, s"slice $g")
    }
    // NULL group drops; totally ordered by (group, bucket)
    val withNullG = rows.map { case (g, s, l) => (Option(g), s, l) } ++
      Seq((Option.empty[String], 0.5, true))
    assert(GraftOps.calibrationReportBy(withNullG.toDF("g", "s", "l"),
        col("g"), col("s"), col("l"), 10).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.toSeq.drop(2)).toMap
      == got)
    val order = by.collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(order == order.sorted, s"total order: $order")
  }

  test("prCurveReport: hand-computed curve and AP, block-atomic ties, all-positive defined, zero-positive loud, NULL drop") {
    import spark.implicits._
    // scores desc 0.9(+), 0.8(−), 0.7(+): AP = ½·(1/1 + 2/3) = 0.8333…
    // with per-block ppm flooring: 500000 + 0 + 333333 = 833333
    val basic = Seq((0.9, true), (0.8, false), (0.7, true))
    val c1 = GraftOps.prCurveReport(basic.toDF("s", "l"), col("s"), col("l"))
      .collect()
    assert(c1.map(_.getDouble(0)).toSeq == Seq(0.9, 0.8, 0.7), "desc order")
    val last1 = c1.last
    assert(last1.getAs[Long]("ap_ppm") == 833333L &&
      last1.getAs[Long]("cum_n") == 3L && last1.getAs[Long]("cum_pos") == 2L,
      s"AP: ${c1.mkString(" | ")}")
    assert(c1.head.getAs[Long]("prec_ppm") == 1000000L &&
      c1.head.getAs[Long]("recall_ppm") == 500000L, "first cut p=1, r=1/2")
    // block-atomic tie: 0.9(+), then a tied block {0.5(+), 0.5(−)} —
    // term₂ = 1·2·10⁶ div (2·3) = 333333, AP = 833333
    val tied = Seq((0.9, true), (0.5, true), (0.5, false))
    val c2 = GraftOps.prCurveReport(tied.toDF("s", "l"), col("s"), col("l"))
      .collect()
    assert(c2.length == 2 && c2.last.getAs[Long]("ap_ppm") == 833333L &&
      c2.last.getAs[Long]("n") == 2L && c2.last.getAs[Long]("n_pos") == 1L,
      s"tied: ${c2.mkString(" | ")}")
    // all-positive input is DEFINED: AP = 1 up to per-block flooring
    // (3 singleton blocks of 3 rows: 3 × (10⁶ div 3) = 999999)
    val allPos = Seq((0.1, true), (0.2, true), (0.3, true))
    val c3 = GraftOps.prCurveReport(allPos.toDF("s", "l"), col("s"), col("l"))
      .collect()
    assert(c3.last.getAs[Long]("ap_ppm") == 999999L &&
      c3.forall(_.getAs[Long]("prec_ppm") == 1000000L),
      s"all-positive: ${c3.mkString(" | ")}")
    // zero positives → loud (AP undefined), never an all-zero curve
    def msgs(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => " | " + msgs(c)).getOrElse("")
    val ex = intercept[Exception] {
      GraftOps.prCurveReport(Seq((0.1, false), (0.2, false)).toDF("s", "l"),
        col("s"), col("l")).collect()
    }
    assert(msgs(ex).contains("no positive labels"), s"loud: ${msgs(ex)}")
    // NULL score/label rows drop; empty input → empty curve
    val withNulls = basic.map { case (s, l) => (Option(s), Option(l)) } ++
      Seq((None, Option(true)), (Option(0.99), Option.empty[Boolean]))
    assert(GraftOps.prCurveReport(withNulls.toDF("s", "l"), col("s"),
        col("l")).collect().map(_.toSeq).toSeq == c1.map(_.toSeq).toSeq)
    assert(GraftOps.prCurveReport(Seq.empty[(Double, Boolean)].toDF("s", "l"),
      col("s"), col("l")).count() == 0L)
  }

  test("prCurveReportMicros/prCurveReportBy: tier-equality on quantized inputs, sliced == per-slice exact, zero-positive slice loud by name, NULL group drop") {
    import spark.implicits._
    // micros tier == exact tier on inputs already quantized at micros
    // (every column except the score key, which carries floor-micros
    // longs instead of the doubles it floors from — the q161b pattern)
    val quant = Seq((0.25, true), (0.5, false), (0.5, true), (0.75, false),
      (1.0, true))
    val exact = GraftOps.prCurveReport(quant.toDF("s", "l"),
      col("s"), col("l")).collect()
    val micros = GraftOps.prCurveReportMicros(quant.toDF("s", "l"),
      col("s"), col("l")).collect()
    assert(micros.map(_.toSeq.drop(1)).toSeq ==
      exact.map(_.toSeq.drop(1)).toSeq, "tier equality modulo the score key")
    assert(micros.map(_.getLong(0)).toSeq ==
      exact.map(r => math.floor(r.getDouble(0) * 1e6).toLong).toSeq,
      "micros key == floor(score · 10⁶)")
    // micros BOUNDS the curve: two scores inside one micro-bucket
    // collapse to one block-atomic cut
    val sub = Seq((0.5000001, true), (0.5000004, false))
    assert(GraftOps.prCurveReportMicros(sub.toDF("s", "l"),
      col("s"), col("l")).count() == 1L, "sub-micro scores share a cut")
    // sliced face == the exact face run per slice (group col dropped)
    val sliced = Seq(("a", 0.9, true), ("a", 0.8, false), ("a", 0.7, true),
      ("b", 0.6, true), ("b", 0.5, true))
    val by = GraftOps.prCurveReportBy(sliced.toDF("g", "s", "l"),
      col("g"), col("s"), col("l")).collect()
    for (grp <- Seq("a", "b")) {
      val want = GraftOps.prCurveReport(
        sliced.filter(_._1 == grp).map(t => (t._2, t._3)).toDF("s", "l"),
        col("s"), col("l")).collect().map(_.toSeq).toSeq
      val got = by.filter(_.getString(0) == grp).map(_.toSeq.drop(1)).toSeq
      assert(got == want, s"slice $grp == exact per-slice: $got")
    }
    // a zero-positive SLICE raises loudly, naming the slice
    def msgs(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => " | " + msgs(c)).getOrElse("")
    val starved = sliced ++ Seq(("c", 0.4, false), ("c", 0.3, false))
    val ex = intercept[Exception] {
      GraftOps.prCurveReportBy(starved.toDF("g", "s", "l"),
        col("g"), col("s"), col("l")).collect()
    }
    assert(msgs(ex).contains("no positive labels") &&
      msgs(ex).contains("in group c"), s"loud by name: ${msgs(ex)}")
    // NULL group rows drop (with NULL score/label); empty input → empty
    val withNullG = sliced.map { case (g, s, l) => (Option(g), s, l) } ++
      Seq((Option.empty[String], 0.99, false))
    assert(GraftOps.prCurveReportBy(withNullG.toDF("g", "s", "l"),
        col("g"), col("s"), col("l")).collect().map(_.toSeq).toSeq ==
      by.map(_.toSeq).toSeq, "NULL group drops")
    assert(GraftOps.prCurveReportBy(
      Seq.empty[(String, Double, Boolean)].toDF("g", "s", "l"),
      col("g"), col("s"), col("l")).count() == 0L)
    // the zero-positive guard survives column pruning (filter, not a
    // projected column — the aucReport rule), and NaN scores are loud
    // in both tiers
    val exPruned = intercept[Exception] {
      GraftOps.prCurveReport(Seq((0.1, false), (0.2, false)).toDF("s", "l"),
        col("s"), col("l")).select("ap_ppm").collect()
    }
    assert(msgs(exPruned).contains("no positive labels"),
      s"projection-proof guard: ${msgs(exPruned)}")
    for (tier <- Seq(false, true);
         bad <- Seq(Double.NaN, Double.PositiveInfinity,
           Double.NegativeInfinity)) {
      val exNan = intercept[Exception] {
        val df = Seq((0.1, true), (bad, false)).toDF("s", "l")
        (if (tier) GraftOps.prCurveReportMicros(df, col("s"), col("l"))
         else GraftOps.prCurveReport(df, col("s"), col("l"))).collect()
      }
      assert(msgs(exNan).contains("NaN or infinite score"),
        s"non-finite loud ($tier, $bad): ${msgs(exNan)}")
    }
  }

  test("ridgeFit/ridgeFitFromSummary/ridgeApply: planted relation, shrinkage, determinism, summary bit-equality, guards") {
    import spark.implicits._
    // planted EXACT linear relation y = 2·x0 − 3·x1 + 0.5 over a
    // well-conditioned deterministic design (no noise, λ = 0 → OLS
    // must recover it to quantization precision: components are
    // floor-micros quantized, so ~1e-3 tolerance)
    val data = IndexedSeq.tabulate(300) { i =>
      val x0 = ((i * 37 % 101) - 50) / 50.0
      val x1 = ((i * 53 % 97) - 48) / 48.0
      val x2 = ((i * 71 % 89) - 44) / 44.0
      (Seq(x0.toFloat, x1.toFloat, x2.toFloat),
        2.0 * x0 - 3.0 * x1 + 0.5)
    }
    val df = data.toDF("v", "y")
    val model = GraftOps.ridgeFit(df, col("v"), col("y"), 3, lambdaPpm = 0L)
    val w = model.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(w(0) - 2.0) < 1e-3 && math.abs(w(1) + 3.0) < 1e-3 &&
      math.abs(w(2)) < 1e-3 && math.abs(w(-1) - 0.5) < 1e-3,
      s"planted relation recovered: $w")
    // shrinkage: λ strictly shrinks the coefficient norm
    val wR = GraftOps.ridgeFit(df, col("v"), col("y"), 3, 500000L)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    def norm(m: Map[Int, Double]) =
      math.sqrt((0 until 3).map(d => m(d) * m(d)).sum)
    assert(norm(wR) < norm(w), s"shrinkage: ${norm(wR)} < ${norm(w)}")
    // determinism + bit-equality with the summary-fed fit (the S31 path)
    val again = GraftOps.ridgeFit(df, col("v"), col("y"), 3, 0L)
      .collect().map(_.toSeq).toSeq
    assert(again == model.collect().map(_.toSeq).toSeq, "bit-equal re-fit")
    val summary = GraftOps.gramSummaryRows(
      df.select(concat(col("v"), array(col("y").cast("float"))).as("a")),
      col("a"), 4)
    val fromSummary = GraftOps.ridgeFitFromSummary(summary, 3, 0L)
      .collect().map(_.toSeq).toSeq
    assert(fromSummary == again, "fit == fit-from-augmented-summary")
    // apply: score == β·x + b exactly (one PlaneDots dot + affine)
    val scored = GraftOps.ridgeApply(df, col("v"), model, 3)
      .select(col("y"), col("score")).collect()
    assert(scored.forall(r => math.abs(r.getDouble(1) - r.getDouble(0)) < 2e-3),
      "scores reproduce the planted target")
    // guards: wrong-length loud at apply; rank-deficiency loud at λ=0;
    // negative λ and bad summaries rejected
    val bad = Seq((Seq(1.0f, 2.0f), 0.0)).toDF("v", "y")
    val exLen = intercept[Exception] {
      GraftOps.ridgeApply(bad, col("v"), model, 3).collect()
    }
    assert(exLen.getMessage.contains("expected 3-component") ||
      Option(exLen.getCause).exists(_.getMessage.contains("expected 3-component")))
    val degenerate = data.map { case (v, y) =>
      (Seq(v(0), v(0), v(0)), y) }.toDF("v", "y") // rank-1 design
    val exPivot = intercept[IllegalArgumentException] {
      GraftOps.ridgeFit(degenerate, col("v"), col("y"), 3, 0L)
    }
    assert(exPivot.getMessage.contains("non-positive pivot"), s"$exPivot")
    intercept[IllegalArgumentException] {
      GraftOps.ridgeFit(df, col("v"), col("y"), 3, -1L)
    }
    intercept[IllegalArgumentException] {
      GraftOps.ridgeFitFromSummary(summary, 4, 0L) // wrong dim vs layout
    }
    // NULL vec OR NULL target rows drop up front (the NULL-drop
    // convention) — a NULL target used to reach the Seq[Float] encoder
    // inside the augmented array and die with an opaque null-decode
    // error (r19 ADVICE finding); the fit must equal the clean fit
    val withNullRows = data.map { case (v, y) => (Option(v), Option(y)) } ++
      Seq((Option.empty[Seq[Float]], Option(1.0)),
        (Option(Seq(1.0f, 2.0f, 3.0f)), Option.empty[Double]))
    val mNulls = GraftOps.ridgeFit(withNullRows.toDF("v", "y"),
      col("v"), col("y"), 3, 0L).collect().map(_.toSeq).toSeq
    assert(mNulls == again, "NULL vec/target rows drop; fit unchanged")
  }

  test("logisticFit/logisticApply: planted-model recovery, loss decrease, shrinkage, determinism, sigmoid face, NULL drop, guards") {
    import spark.implicits._
    // labels drawn from a KNOWN logistic model β* = (1.5, −2, 0),
    // b* = 0.3 via a deterministic pseudo-uniform — the MLE must land
    // near β* (n = 4000 ⇒ se ≈ 0.06 per coefficient)
    val bStar = Array(1.5, -2.0, 0.0); val b0Star = 0.3
    val data = IndexedSeq.tabulate(4000) { i =>
      val x0 = ((i * 37 % 101) - 50) / 50.0
      val x1 = ((i * 53 % 97) - 48) / 48.0
      val x2 = ((i * 71 % 89) - 44) / 44.0
      val eta = bStar(0) * x0 + bStar(1) * x1 + bStar(2) * x2 + b0Star
      val u = ((i * 2654435761L) % 100000L).toDouble / 100000.0
      (Seq(x0.toFloat, x1.toFloat, x2.toFloat),
        u < 1.0 / (1.0 + math.exp(-eta)))
    }
    val df = data.toDF("v", "y")
    val model = GraftOps.logisticFit(df, col("v"), col("y"), 3,
      iters = 8, lambdaPpm = 0L)
    val w = model.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(w(0) - 1.5) < 0.25 && math.abs(w(1) + 2.0) < 0.25 &&
      math.abs(w(2)) < 0.25 && math.abs(w(-1) - 0.3) < 0.25,
      s"planted logistic model recovered: $w")
    // loss decreases across Newton iterations (mean log-loss via apply)
    def loss(m: org.apache.spark.sql.DataFrame): Double =
      GraftOps.logisticApply(df, col("v"), m, 3)
        .select(avg(when(col("y"), -log(col("score")))
          .otherwise(-log(lit(1.0) - col("score"))))).head().getDouble(0)
    val l1 = loss(GraftOps.logisticFit(df, col("v"), col("y"), 3, 1, 0L))
    val l4 = loss(GraftOps.logisticFit(df, col("v"), col("y"), 3, 4, 0L))
    val l8 = loss(model)
    assert(l4 < l1 && l8 <= l4 + 1e-4, s"loss decreases: $l1 -> $l4 -> $l8")
    // λ shrinks the coefficient norm (intercept unpenalized)
    val wR = GraftOps.logisticFit(df, col("v"), col("y"), 3, 8, 500000L)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    def norm(m: Map[Int, Double]) =
      math.sqrt((0 until 3).map(d => m(d) * m(d)).sum)
    assert(norm(wR) < norm(w), s"shrinkage: ${norm(wR)} < ${norm(w)}")
    // bit-equal determinism (integer Gram sums + fixed driver order)
    val again = GraftOps.logisticFit(df, col("v"), col("y"), 3, 8, 0L)
      .collect().map(_.toSeq).toSeq
    assert(again == model.collect().map(_.toSeq).toSeq, "bit-equal re-fit")
    // the apply face is exactly σ(ridgeApply raw) on the same model
    // table, and every score lands strictly inside (0, 1)
    val viaRidge = GraftOps.ridgeApply(df, col("v"), model, 3)
      .select((lit(1.0) / (lit(1.0) + exp(-col("score")))).as("score"))
      .collect().map(_.getDouble(0)).toSeq
    val viaLogistic = GraftOps.logisticApply(df, col("v"), model, 3)
      .select(col("score")).collect().map(_.getDouble(0)).toSeq
    assert(viaLogistic == viaRidge &&
      viaLogistic.forall(s => s > 0.0 && s < 1.0), "sigmoid face")
    // NULL vec/target rows drop up front (the ridgeFit convention)
    val withNulls = data.map { case (v, y) => (Option(v), Option(y)) } ++
      Seq((Option.empty[Seq[Float]], Option(true)),
        (Option(Seq(1.0f, 2.0f, 3.0f)), Option.empty[Boolean]))
    assert(GraftOps.logisticFit(withNulls.toDF("v", "y"), col("v"), col("y"),
      3, 8, 0L).collect().map(_.toSeq).toSeq == again, "NULL rows drop")
    // guards: iters/λ ranges; rank-deficient design loud at λ = 0
    intercept[IllegalArgumentException] {
      GraftOps.logisticFit(df, col("v"), col("y"), 3, 0, 0L)
    }
    intercept[IllegalArgumentException] {
      GraftOps.logisticFit(df, col("v"), col("y"), 3, 4, -1L)
    }
    val degenerate = data.map { case (v, y) =>
      (Seq(v(0), v(0), v(0)), y) }.toDF("v", "y")
    val exPivot = intercept[IllegalArgumentException] {
      GraftOps.logisticFit(degenerate, col("v"), col("y"), 3, 2, 0L)
    }
    assert(exPivot.getMessage.contains("non-positive pivot"), s"$exPivot")
    // wrong-length vectors fail loudly inside the fit's Gram pass
    val exLen = intercept[Exception] {
      GraftOps.logisticFit(
        Seq((Seq(1.0f, 2.0f), true), (Seq(3.0f, 4.0f), false)).toDF("v", "y"),
        col("v"), col("y"), 3, 1, 0L)
    }
    def msgs(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => " | " + msgs(c)).getOrElse("")
    assert(msgs(exLen).contains("expected 3-component"), s"${msgs(exLen)}")
  }

  test("cmsSketch/cmsQuery: never undercounts any key; mergeable; absent keys; report; guards") {
    import spark.implicits._
    val keys = Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ (1 to 60).map(i => s"k$i")
    val df = keys.toDF("k")
    val (d, w) = (3, 16) // width 16 forces collisions — the property must hold anyway
    val sk = GraftOps.cmsSketch(df, col("k"), d, w)
    val truth = df.groupBy("k").agg(count(lit(1)).as("n"))
    val joined = GraftOps.cmsQuery(sk, truth, col("k"), d, w)
      .join(truth.withColumnRenamed("k", "key"), "key").collect()
    assert(joined.length == 62 && joined.forall(r =>
      r.getAs[Long]("est") >= r.getAs[Long]("n")),
      "CMS guarantee: est >= true count for EVERY key")
    // a never-seen key still answers (its cells may collide; >= 0 is the contract)
    val ghost = GraftOps.cmsQuery(sk, Seq("zzz-never").toDF("k"), col("k"), d, w)
      .collect()
    assert(ghost.length == 1 && ghost(0).getLong(1) >= 0L)
    // mergeability: sketch(h1 ++ h2) == cell-wise sum of the halves' sketches
    val (h1, h2) = keys.splitAt(50)
    val merged = GraftOps.cmsSketch(h1.toDF("k"), col("k"), d, w)
      .union(GraftOps.cmsSketch(h2.toDF("k"), col("k"), d, w))
      .groupBy("j", "bucket").agg(sum("c").as("c"))
    val whole = GraftOps.cmsSketch(df, col("k"), d, w)
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "per-shard sketches fold into the corpus sketch")
    // report: top keys in (n desc, key asc) order, overcount = est - n >= 0
    val rep = GraftOps.cmsFrequencyReport(df, col("k"), d, w, 2).collect()
    assert(rep.map(_.getString(0)).toSeq == Seq("a", "b") &&
      rep.forall(r => r.getAs[Long]("overcount") >= 0L))
    intercept[IllegalArgumentException] { GraftOps.cmsSketch(df, col("k"), 0, w) }
    intercept[IllegalArgumentException] { GraftOps.cmsSketch(df, col("k"), d, 1) }
    intercept[IllegalArgumentException] { GraftOps.cmsFrequencyReport(df, col("k"), d, w, 0) }
  }

  test("kmvSketch/kmvOverlapReport: exact set algebra when unsaturated; mergeable; saturated estimator") {
    import spark.implicits._
    // |A|=30, |B|=25, |A∩B|=10, |A∪B|=45 — all under k, so theta = 2^40
    // and the whole report is EXACT
    val rows = ((1 to 30).map(i => ("g1", s"v$i")) ++
      (21 to 45).map(i => ("g2", s"v$i"))).toDF("g", "v")
    val rep = GraftOps.kmvOverlapReport(rows, col("g"), col("v"), k = 128)
      .collect()
    assert(rep.length == 1)
    val r = rep(0)
    assert((r.getAs[Long]("est_a"), r.getAs[Long]("est_b"),
      r.getAs[Long]("n_common"), r.getAs[Long]("est_inter"),
      r.getAs[Long]("est_union")) == ((30L, 25L, 10L, 10L, 45L)),
      s"unsaturated KMV is exact set algebra: $r")
    assert(r.getAs[Long]("jaccard_ppm") == 10L * 1000000L / 45L)
    // mergeability at a saturating k: bottom-k of the union of two
    // halves' sketches == the whole input's sketch
    val p1 = ((1 to 15).map(i => ("g1", s"v$i")) ++
      (21 to 33).map(i => ("g2", s"v$i"))).toDF("g", "v")
    val p2 = ((16 to 30).map(i => ("g1", s"v$i")) ++
      (34 to 45).map(i => ("g2", s"v$i"))).toDF("g", "v")
    val k = 12
    val mergedSk = GraftOps.kmvSketch(p1, col("g"), col("v"), k)
      .union(GraftOps.kmvSketch(p2, col("g"), col("v"), k)).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("h")
    val remerged = mergedSk.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("grp", "h")
    val whole = GraftOps.kmvSketch(rows, col("g"), col("v"), k)
    assert(remerged.exceptAll(whole).isEmpty &&
      whole.exceptAll(remerged).isEmpty,
      "bottom-k of merged sketches == sketch of the union")
    // saturated: identical 2000-value sets must read jaccard exactly 10^6,
    // and the distinct estimate must sit inside a loose 3/sqrt(k) band
    val big = ((1 to 2000).map(i => ("g1", s"x$i")) ++
      (1 to 2000).map(i => ("g2", s"x$i"))).toDF("g", "v")
    val rs = GraftOps.kmvOverlapReport(big, col("g"), col("v"), k = 128)
      .collect()(0)
    assert(rs.getAs[Long]("jaccard_ppm") == 1000000L,
      s"identical saturated sets read 10^6 ppm: $rs")
    assert(rs.getAs[Long]("est_a") > 1400L && rs.getAs[Long]("est_a") < 2600L,
      s"saturated estimate within the 3/sqrt(k) band of 2000: $rs")
    assert(rs.getAs[Long]("est_a") == rs.getAs[Long]("est_b"),
      "identical sets, identical sketches, identical estimates")
    intercept[IllegalArgumentException] {
      GraftOps.kmvSketch(rows, col("g"), col("v"), 1)
    }
  }

  test("winnowFingerprints/winnowOverlapReport: recall guarantee, reference DP, short docs, set semantics, report math") {
    import spark.implicits._
    // Scala reference of the winnowing selection (same md5 hash as the
    // codegen'd expression — Portable.phashJvm IS pair()._1)
    def ref(text: String, kg: Int, w: Int): Set[Long] = {
      val toks = text.toLowerCase.trim.split("\\s+").toVector
      if (toks.length < kg) return Set.empty
      val hs = toks.sliding(kg)
        .map(g => graft.functions.Portable.phashJvm(g.mkString(" "))).toVector
      val wins = math.max(hs.length - w + 1, 1)
      (0 until wins).map(i => hs.slice(i, math.min(i + w, hs.length)).min).toSet
    }
    // recall law: a shared run of window + kgram − 1 = 8 tokens
    // GUARANTEES >= 1 shared fingerprint (MinHash can only say "probably")
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val t1 = s"unique one two three $shared nine ten eleven"
    val t2 = s"$shared completely different tail words here now"
    val t3 = "nothing in common with the others at all whatsoever truly"
    val df = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("id", "txt")
    val byDoc = GraftOps.winnowFingerprints(df, col("id"), col("txt"),
        kgram = 4, window = 5)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "shared 8-token run must share a fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty,
      "no shared 4-gram, no shared fingerprint")
    assert(byDoc(1L) == ref(t1, 4, 5) && byDoc(2L) == ref(t2, 4, 5) &&
      byDoc(3L) == ref(t3, 4, 5), "codegen'd selection == reference")
    // short doc: 5 tokens → 2 positional hashes < window → ONE window over all
    val short = GraftOps.winnowFingerprints(
      Seq((9L, "a b c d e")).toDF("id", "txt"), col("id"), col("txt"), 4, 5)
      .collect()
    assert(short.length == 1 &&
      short(0).getLong(1) == ref("a b c d e", 4, 5).head)
    // under kgram tokens → no fingerprints at all
    assert(GraftOps.winnowFingerprints(
      Seq((8L, "a b c")).toDF("id", "txt"), col("id"), col("txt"), 4, 5)
      .count() == 0L)
    // repeated phrase inside one doc: fingerprints stay a SET
    val dup = Seq((7L, "p q r s p q r s p q r s p q r s")).toDF("id", "txt")
    val fps = GraftOps.winnowFingerprints(dup, col("id"), col("txt"), 4, 5)
      .collect().map(_.getLong(1))
    assert(fps.distinct.length == fps.length, "fingerprint set, no dup values")
    assert(fps.toSet == ref("p q r s p q r s p q r s p q r s", 4, 5))
    // report: only the planted pair qualifies; containment math is integer
    val rep = GraftOps.winnowOverlapReport(df, col("id"), col("txt"),
      4, 5, dfCap = 100, minShared = 1).collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val rr = rep(0)
    assert(rr.getAs[Long]("containment_ppm") ==
      rr.getAs[Long]("n_shared") * 1000000L /
        math.min(rr.getAs[Long]("fp_a"), rr.getAs[Long]("fp_b")))
    intercept[IllegalArgumentException] {
      GraftOps.winnowFingerprints(df, col("id"), col("txt"), 0, 5)
    }
    intercept[IllegalArgumentException] {
      GraftOps.winnowOverlapReport(df, col("id"), col("txt"), 4, 5, 0, 1)
    }
  }
}

object GraftOpsSpec {
  /** Per-query evaluation counters of the non-deterministic queries UDF
    * (an object, so every task thread of the local session shares it). */
  val evals = scala.collection.concurrent.TrieMap
    .empty[Long, java.util.concurrent.atomic.AtomicLong]
}
