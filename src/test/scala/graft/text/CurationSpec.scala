package graft.text

import graft.{SparkSpec, Tables}

/** Curation-operator invariants (q86 repetition audit, q87 PII scrub) on
  * hand-computed fixtures plus corpus-wide bounds — the oracle pins exact
  * values; these pin the semantics a reader can check by hand.
  */
class CurationSpec extends SparkSpec {

  test("adaptive LSH bit-width: constant expected bucket size, floored and capped") {
    // floor: every test SF sits at the historical 8 bits
    assert(Similarity.adaptiveBits(500) == 8)
    assert(Similarity.adaptiveBits(2000) == 8)
    assert(Similarity.adaptiveBits(256L * 256) == 8)
    // growth: +1 bit per corpus doubling keeps E[bucket] ~ target
    assert(Similarity.adaptiveBits(256L * 512) == 9)
    assert(Similarity.adaptiveBits(256L * 1024) == 10)
    // a 100x scale-up from the 8-bit boundary costs ~7 bits, not bucket^2
    assert(Similarity.adaptiveBits(256L * 256 * 100) == 15)
    // cap: shard beyond 16 bits instead of losing recall
    assert(Similarity.adaptiveBits(Long.MaxValue / 4) == 16)
  }

  test("decontamination flags a planted train/eval overlap") {
    import spark.implicits._
    // doc 97 is the eval member (id % 97 = 0); doc 1 shares both of its
    // 4-gram shingles, doc 2 shares none, doc 3 shares the first only
    val docs = Seq(
      (97L, "a b c d e"),
      (1L, "a b c d e"),
      (2L, "v w x y z"),
      (3L, "a b c d q")).toDF("doc_id", "text")
    val flagged = Dedup.decontamination(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(flagged == Map(1L -> ((1L, 2L)), 3L -> ((1L, 1L))))
  }

  test("token budget: greedy prefix respects the per-lang budget") {
    import spark.implicits._
    // lang "aa": docs of 6, 4, 3 tokens; budget 10 admits 6+4 only
    // (longest-first), never 6+4+3; lang "bb" fits entirely
    val docs = Seq(
      (1L, "t t t t t t", "aa"), (2L, "t t t t", "aa"), (3L, "t t t", "aa"),
      (4L, "u u", "bb")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.tokenBudgetSample(docs, budget = 10L).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("aa" -> ((2L, 10L)), "bb" -> ((1L, 2L))))
  }

  test("repetition audit: hand-computed fixture") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b"), (2L, "x y"), (3L, "z"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionAudit(docs).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // "a a a b": 4 tokens, 2 distinct, 2 duplicated, top token "a"x3,
    // top bigram "a a"x2
    assert(byId(1L).getLong(1) == 4 && byId(1L).getLong(2) == 2)
    assert(byId(1L).getLong(3) == 2)
    assert(byId(1L).getLong(4) == 3 && byId(1L).getLong(5) == 2)
    // "x y": no repetition, single bigram
    assert(byId(2L).getLong(4) == 1 && byId(2L).getLong(5) == 1)
    // single token: bigram count 0 (sequence() guard — not [0,-1])
    assert(byId(3L).getLong(1) == 1 && byId(3L).getLong(5) == 0)
  }

  test("repetition audit: corpus-wide bounds") {
    val rows = TextAnalysis.repetitionAudit(
      Tables.documents(spark, sf("sf0.001"))).collect()
    rows.foreach { r =>
      val (n, d, dup, tt, tb) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(dup == n - d && dup >= 0)
      assert(tt >= 1 && tt <= n)
      assert(tb >= 0 && tb <= math.max(n - 1, 0))
    }
  }

  test("connected components: multi-round propagation on a path graph") {
    import spark.implicits._
    // path 1-2-3-4 (diameter 3 forces >1 propagation round) + pair 10-11
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (11L, 10L))
      .toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("pii scrub: every tainted doc redacts exactly its injected PII") {
    import spark.implicits._
    val one = Seq((7L, "hello")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(one).collect()(0)
    assert(r.getLong(1) == 1 && r.getLong(2) == 1)
    // expected scrubbed string is fully determined
    val expected = "hello contact <EMAIL> call <PHONE> ok"
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectedMd5 = md.digest(expected.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getString(3) == expectedMd5)
    assert(r.getLong(4) == expected.length.toLong)
    // corpus-wide: word-soup text carries no PII of its own
    val corpus = TextAnalysis.piiScrub(
      Tables.documents(spark, sf("sf0.001"))).collect()
    corpus.foreach(c => assert(c.getLong(1) == 1 && c.getLong(2) == 1))
  }

  test("sequence packing: a bin exceeds capacity only as a single oversized doc") {
    val bins = TextAnalysis.sequencePacking(
      spark, Tables.documents(spark, sf("sf0.01"))).collect()
    assert(bins.nonEmpty)
    bins.foreach { r =>
      val nDocs = r.getLong(2); val tokens = r.getLong(3)
      assert(tokens <= 512 || nDocs == 1,
        s"${r.getString(0)} bin ${r.getLong(1)}: $tokens tokens across $nDocs docs")
    }
  }
}
