package graft.text

import graft.{SparkSpec, Tables}

/** Laws for the round-8 corpus-forensics operators: MATTR bounds and
  * its repeated-token degenerate case, Gries DP range and its
  * perfectly-proportional zero, coverage monotonicity, winnowing
  * fingerprint recall on planted near-dups, the lognormal fit's
  * constant-length degenerate case, blocklist counting identity, and
  * OOV rate bounds.
  */
class CorpusAuditSpec extends SparkSpec {
  import spark.implicits._

  test("mattr: bounded by (1/w, 1], and a one-token doc scores exactly 1/30") {
    val corpus = Tables.documents(spark, sf("sf0.001"))
    val r = CorpusAudit.mattr(corpus).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val m = row.getAs[Double]("mattr")
      assert(m > 1.0 / 30 - 1e-9 && m <= 1.0, s"mattr out of range: $m")
      assert(row.getAs[Double]("ttr") <= 1.0)
    }
    // a doc that is one token repeated 60 times: every window has 1 type
    val degenerate = Seq((1L, Seq.fill(60)("spam").mkString(" "), "en", "s0", 300L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = CorpusAudit.mattr(degenerate).collect()
    assert(d.length == 1)
    assert(math.abs(d(0).getAs[Double]("mattr") - 1.0 / 30) < 1e-6) // round(6) grain
  }

  test("griesDp: DP in [0,1); a perfectly proportional token scores 0") {
    val r = CorpusAudit.griesDp(Tables.documents(spark, sf("sf0.001"))).collect()
    assert(r.length == 20)
    r.foreach { row =>
      val dp = row.getAs[Double]("dp")
      assert(dp >= 0 && dp < 1, s"dp out of range: $dp")
    }
    // two sources of equal token mass, 'x' split equally => DP('x') = 0
    val planted = Seq(
      (1L, "x x y y", "en", "a", 7L), (2L, "x x z z", "en", "b", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val p = CorpusAudit.griesDp(planted).collect()
      .map(row => row.getString(0) -> row.getAs[Double]("dp")).toMap
    assert(math.abs(p("x")) < 1e-9, s"proportional token must have DP 0: $p")
  }

  test("vocabCoverage: threshold counts are monotone and bounded by |V|") {
    val r = CorpusAudit.vocabCoverage(Tables.documents(spark, sf("sf0.001"))).collect()
    assert(r.length == 1)
    val row = r(0)
    val (c50, c90, c99, nt) = (row.getAs[Long]("types_50pct"),
      row.getAs[Long]("types_90pct"), row.getAs[Long]("types_99pct"),
      row.getAs[Long]("n_types"))
    assert(c50 <= c90 && c90 <= c99 && c99 <= nt)
    assert(c50 >= 1)
    assert(row.getAs[Double]("top_share") > 0)
  }

  test("winnowingPairs: planted near-identical docs are recalled, output keys sorted") {
    // two docs sharing a long run of text + distinct unique tails
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val planted = Seq(
      (1L, base + " qqqq", "en", "a", 100L),
      (2L, base + " zzzz", "en", "b", 100L),
      (3L, "completely unrelated content with different words entirely here", "en", "c", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = CorpusAudit.winnowingPairs(planted).collect()
    assert(pairs.exists(p => p.getLong(0) == 1L && p.getLong(1) == 2L),
      s"planted near-dup pair not recalled: ${pairs.mkString(",")}")
    assert(!pairs.exists(p => p.getLong(1) == 3L || p.getLong(0) == 3L),
      "unrelated doc must not pair")
    pairs.foreach(p => assert(p.getLong(0) < p.getLong(1)))
  }

  test("lognormalFit: constant lengths give sigma2=0 and fit_median=length") {
    val planted = (1L to 10L).map(i => (i, "t", "en", "s0", 148L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = CorpusAudit.lognormalFit(planted).collect()
    assert(r.length == 1)
    assert(math.abs(r(0).getAs[Double]("sigma2")) < 1e-9)
    assert(math.abs(r(0).getAs[Double]("fit_median") - 148.0) < 1e-3)
    assert(r(0).getAs[Double]("obs_median") == 148.0)
  }

  test("blocklistAudit: replace-length counting matches a hand count") {
    val planted = Seq(
      (1L, "big join and big join and table scan", "en", "s0", 40L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = CorpusAudit.blocklistAudit(planted).collect()
      .map(row => row.getString(1) -> row.getAs[Long]("n_hits")).toMap
    assert(r("big join") == 2L)
    assert(r("table scan") == 1L)
    assert(r("slow scan") == 0L)
  }

  test("phraseSearch: token-level phrase semantics, not substring semantics") {
    val planted = Seq(
      (1L, "the slow scan ran", "en", "a", 20L),
      (2L, "slowx scan here", "en", "b", 15L), // substring would match, tokens must not
      (3L, "slow scan slow scan", "en", "a", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = CorpusAudit.phraseSearch(planted).collect()
      .map(row => (row.getString(0), row.getString(1)) ->
        (row.getAs[Long]("n_docs"), row.getAs[Long]("n_occurrences"))).toMap
    assert(r(("slow scan", "a")) == ((2L, 3L)), s"got $r")
    assert(!r.contains(("slow scan", "b")), "token phrase must not match 'slowx scan'")
  }

  test("prefixCacheAudit: planted shared prefixes save (g-1)*plen tokens") {
    val shared = "a b c d e f g h i j k l m n o p" // exactly 16 tokens
    val planted = Seq(
      (1L, shared + " tail one here", "en", "a", 60L),
      (2L, shared + " different tail", "en", "b", 60L),
      (3L, shared + " third variant", "en", "c", 60L),
      (4L, "totally unshared text", "en", "d", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = CorpusAudit.prefixCacheAudit(planted).collect()(0)
    assert(r.getAs[Long]("tokens_saved") == 32L, s"(3-1)*16 expected: $r") // 2 extra docs x 16
    assert(r.getAs[Long]("n_shared_docs") == 3L)
    assert(r.getAs[Long]("max_group") == 3L)
    val solo = Seq((1L, "just one doc", "en", "a", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(CorpusAudit.prefixCacheAudit(solo).collect()(0)
      .getAs[Long]("tokens_saved") == 0L)
  }

  test("oovRate: rates bounded, corpus-wide OOV consistent with per-source sums") {
    val rows = CorpusAudit.oovRate(Tables.documents(spark, sf("sf0.001"))).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Double]("oov_rate")
      assert(rate >= 0 && rate <= 1)
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_docs_over_30pct") <= r.getAs[Long]("n_docs"))
    }
  }

  test("gopherRepetition: looped text flags, novel text does not") {
    import spark.implicits._
    val docs = Seq(
      // 9 words "a b c" x3: 7 trigrams, 3 distinct -> dup = 4/7 = 571428 ppm
      (1L, "a b c a b c a b c", "en", "looped", 9L),
      (2L, "one two three four five six", "en", "novel", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = CorpusAudit.gopherRepetition(docs).collect()
      .map(x => x.getAs[String]("source") ->
        (x.getAs[Long]("avg_dup_ppm"), x.getAs[Long]("n_flagged"))).toMap
    assert(r("looped") == ((571428L, 1L)))
    assert(r("novel") == ((0L, 0L)))
  }
}
