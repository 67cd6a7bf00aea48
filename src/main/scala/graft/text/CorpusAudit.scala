package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num.osum

/** Corpus-forensics audit operators for training-data curation, round 8
  * of the extension surface (none exist in the reference — its text
  * surface is the filename-parsing expressions, `02_Data Ingest.py:95-99`):
  * moving-average type-token ratio (MATTR, Covington & McFall 2010),
  * Gries' deviation-of-proportions dispersion (DP, Gries 2008),
  * vocabulary-coverage quantiles, MOSS-style winnowing fingerprints
  * (Schleimer, Wilkerson, Aiken — SIGMOD 2003), a lognormal
  * document-length fit, blocklist-phrase auditing, and fixed-vocabulary
  * OOV rates.
  *
  * Shared scale discipline (same as CorpusStats):
  *  - token/fingerprint phases are postings-shaped — one explode + one
  *    group-keyed shuffle whose width is the vocabulary / fingerprint
  *    space, never the corpus squared;
  *  - every statistic is exact integer/decimal arithmetic up to a single
  *    final division (or a fixed-shape double expression over exact
  *    integers), so both engines agree bit-for-bit;
  *  - candidate-pair joins are bounded by an absolute document-frequency
  *    cap, the q27/q296 discipline that keeps a corpus-wide boilerplate
  *    fingerprint from generating d² fan-out.
  */
object CorpusAudit extends QueryModule {

  // ---------------------------------------------------------------- q293

  /** Moving-average type-token ratio (MATTR): lexical diversity that,
    * unlike plain TTR, does not shrink with document length — a fixed
    * 30-token window slides at stride 15 and the per-source MATTR is the
    * pooled mean of window type counts over window size. The plain TTR
    * columns sit alongside as the length-confounded baseline. Exact
    * integer counts with one final division per ratio; the token explode
    * is postings-shaped.
    */
  def mattr(docs: DataFrame): DataFrame = {
    val w = 30
    val stride = 15
    val toks = docs.select(col("doc_id"), col("source"),
      expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
    val win = toks.filter(size(col("toks")) >= w)
      .select(col("doc_id"), col("source"),
        explode(expr(
          s"transform(sequence(1, size(toks) - ${w - 1}, $stride), " +
            s"p -> size(array_distinct(slice(toks, p, $w))))")).as("dc"))
    val bySrc = win.groupBy("source").agg(
      countDistinct("doc_id").as("n_docs"),
      count(lit(1)).as("n_windows"),
      sum("dc").as("sum_distinct"))
    val typ = toks.select(col("source"), explode(col("toks")).as("tok"))
      .groupBy("source").agg(
        countDistinct("tok").as("n_types"),
        count(lit(1)).as("n_tokens"))
    bySrc.join(typ, "source")
      .select(col("source"), col("n_docs"), col("n_windows"),
        round(col("sum_distinct").cast("double")
          / (col("n_windows").cast("double") * w), 6).as("mattr"),
        col("n_types"), col("n_tokens"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"))
      .orderBy("source")
  }

  private val mattrOracle = """
    WITH toks AS (
      SELECT doc_id, source,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
    win AS (
      SELECT doc_id, source, unnest(generate_series(1, len(toks) - 29, 15)) AS p, toks
      FROM toks WHERE len(toks) >= 30),
    dc AS (
      SELECT doc_id, source, len(list_distinct(toks[p:p+29])) AS dc FROM win),
    by_src AS (
      SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_windows,
        SUM(dc) AS sum_distinct
      FROM dc GROUP BY 1),
    typ AS (
      SELECT source, COUNT(DISTINCT tok) AS n_types, COUNT(*) AS n_tokens
      FROM (SELECT source, unnest(toks) AS tok FROM toks) GROUP BY 1)
    SELECT source, n_docs, n_windows,
      ROUND(CAST(sum_distinct AS DOUBLE) / (CAST(n_windows AS DOUBLE) * 30), 6)
        AS mattr,
      n_types, n_tokens,
      ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr
    FROM by_src JOIN typ USING (source) ORDER BY source"""

  // ---------------------------------------------------------------- q294

  /** Gries' deviation of proportions (DP): how evenly each of the top-20
    * corpus terms spreads across sources — DP = ½·Σ_s |v_s/f − s_s/S|,
    * 0 = perfectly proportional, →1 = concentrated in one source. The
    * absolute differences are brought to the common denominator f·S so
    * the numerator is an exact BIGINT sum; one final division. Sources
    * where the term is absent contribute their full size share — the
    * cross join against the (20 × |sources|) grid is what makes the
    * statistic correct, and it is dimension-sized, not corpus-sized.
    */
  def griesDp(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"),
      explode(expr("filter(split(text, ' '), t -> t <> '')")).as("tok"))
    val counts = toks.groupBy("tok", "source").agg(count(lit(1)).as("v"))
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("s_s"))
    val tokTot = counts.groupBy("tok").agg(sum("v").as("f"))
    val top = tokTot.orderBy(col("f").desc, col("tok")).limit(20)
    val grand = srcTot.agg(sum("s_s").as("big_s"))
    val grid = top.crossJoin(srcTot).crossJoin(broadcast(grand))
      .join(counts, Seq("tok", "source"), "left")
      .withColumn("v0", coalesce(col("v"), lit(0L)))
    grid.groupBy("tok", "f", "big_s")
      .agg(sum(abs(col("v0") * col("big_s") - col("s_s") * col("f"))).as("num"))
      .select(col("tok"), col("f"),
        round(col("num").cast("double")
          / (lit(2.0) * col("f").cast("double") * col("big_s").cast("double")), 6)
          .as("dp"))
      .orderBy("tok")
  }

  private val griesDpOracle = """
    WITH toks AS (
      SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
        AS tok
      FROM documents),
    counts AS (SELECT tok, source, COUNT(*) AS v FROM toks GROUP BY 1, 2),
    src_tot AS (SELECT source, COUNT(*) AS s_s FROM toks GROUP BY 1),
    tok_tot AS (SELECT tok, SUM(v) AS f FROM counts GROUP BY 1),
    top AS (SELECT tok, f FROM tok_tot ORDER BY f DESC, tok LIMIT 20),
    grand AS (SELECT SUM(s_s) AS big_s FROM src_tot),
    grid AS (
      SELECT t.tok, t.f, s.source, s.s_s, g.big_s, COALESCE(c.v, 0) AS v0
      FROM top t CROSS JOIN src_tot s CROSS JOIN grand g
      LEFT JOIN counts c ON c.tok = t.tok AND c.source = s.source)
    SELECT tok, CAST(f AS BIGINT) AS f,
      ROUND(CAST(SUM(ABS(v0 * big_s - s_s * f)) AS DOUBLE)
        / (2.0 * CAST(f AS DOUBLE) * CAST(big_s AS DOUBLE)), 6) AS dp
    FROM grid GROUP BY tok, f, big_s ORDER BY tok"""

  // ---------------------------------------------------------------- q295

  /** Vocabulary-coverage quantiles: how many types cover 50 / 90 / 99 %
    * of the token mass — the statistic behind tokenizer vocabulary
    * sizing ("a 32k vocab covers 99.8% of web text"). The cumulative
    * walk runs over the frequency-ranked vocabulary (vocabulary-sized,
    * not corpus-sized) and distributes via the [[graft.ops.Dist]]
    * two-level decomposition, so even a multi-million-type |V| never
    * funnels through one task. Threshold tests are exact integer
    * comparisons (100·cum vs pct·S) — no float boundary.
    */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val freq = docs
      .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    // The cumulative walk over the frequency-ranked vocabulary
    // distributes via Dist. The bucket is (−f, 2-char token prefix) —
    // the prefix refines FREQUENCY TIES (a prefix of the tiebreak key is
    // monotone in it), because bucketing by −f alone would put every
    // hapax legomenon (~half of any natural vocabulary) in ONE bucket's
    // window. The global total and the top type are separate bounded
    // aggregates (one scalar, one distributed top-1).
    val cum = graft.ops.Dist.withRunningSum(freq,
      struct(negate(col("f")), substring(col("tok"), 1, 2)),
      Seq(col("f").desc, col("tok")), col("f"), "cum")
    val tot = freq.agg(sum("f").as("s"))
    val top = freq.orderBy(col("f").desc, col("tok")).limit(1)
      .select(col("tok").as("top_token"), col("f").as("top_f"))
    cum.crossJoin(broadcast(tot))
      .agg(
        count(lit(1)).as("n_types"),
        max("s").as("n_tokens"),
        sum(when((col("cum") - col("f")) * 100 < col("s") * 50, 1L)
          .otherwise(0L)).as("types_50pct"),
        sum(when((col("cum") - col("f")) * 100 < col("s") * 90, 1L)
          .otherwise(0L)).as("types_90pct"),
        sum(when((col("cum") - col("f")) * 100 < col("s") * 99, 1L)
          .otherwise(0L)).as("types_99pct"))
      .crossJoin(broadcast(top))
      .select(col("n_types"), col("n_tokens"),
        col("types_50pct"), col("types_90pct"), col("types_99pct"),
        col("top_token"),
        round(col("top_f").cast("double") / col("n_tokens").cast("double"), 6)
          .as("top_share"))
  }

  private val vocabCoverageOracle = """
    WITH freq AS (
      SELECT tok, COUNT(*) AS f FROM (
        SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents) GROUP BY 1),
    cum AS (
      SELECT tok, f,
        SUM(f) OVER (ORDER BY f DESC, tok) AS cum,
        SUM(f) OVER () AS s
      FROM freq)
    SELECT COUNT(*) AS n_types, CAST(MAX(s) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN (cum - f) * 100 < s * 50 THEN 1 ELSE 0 END) AS BIGINT) AS types_50pct,
      CAST(SUM(CASE WHEN (cum - f) * 100 < s * 90 THEN 1 ELSE 0 END) AS BIGINT) AS types_90pct,
      CAST(SUM(CASE WHEN (cum - f) * 100 < s * 99 THEN 1 ELSE 0 END) AS BIGINT) AS types_99pct,
      MAX(CASE WHEN rnk = 1 THEN tok END) AS top_token,
      ROUND(CAST(MAX(f) AS DOUBLE) / CAST(MAX(s) AS DOUBLE), 6) AS top_share
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rnk FROM cum)"""

  // ---------------------------------------------------------------- q296

  /** MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD 2003):
    * every 8-char gram hashes with an exact 31-ary BIGINT polynomial
    * (< 31⁸ ≈ 8.5e11 — no overflow, no float), each 16-gram window keeps
    * its minimum hash, and a document's fingerprint set is the distinct
    * selected mins (guaranteed density ≈ 2/(w+1) of positions). Shared
    * fingerprints then vote for near-dup pairs: postings with document
    * frequency in [2, 20] join into candidate pairs — the ABSOLUTE df
    * cap is the same hot-key discipline as q27's prefix filter (a
    * boilerplate fingerprint shared by half the corpus must not emit d²
    * candidates; winnowing deployments drop ubiquitous fingerprints for
    * exactly this reason). Pairs sharing ≥ 3 fingerprints are reported.
    */
  def winnowingPairs(docs: DataFrame): DataFrame = {
    val k = 8
    val w = 16
    val dfCap = 20
    val minShared = 3
    // native O(n) evaluator (rolling k-gram hash + monotonic-deque window
    // min, graft.functions.WinnowingFps) — the SQL-transform form it
    // replaces re-hashed every k-gram and re-scanned every window,
    // O(n*(k+w)) per doc, and was the heaviest stable query on the bench
    val fps = docs.filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowingFps.winnowing_fps(col("text"), k, w)).as("fp"))
    val posting = fps.groupBy("fp")
      .agg(collect_list("doc_id").as("ds"), count(lit(1)).as("df"))
      .filter(col("df").between(2, dfCap))
    val pairs = posting
      .select(explode(expr(
        """flatten(transform(array_sort(ds),
          |  (a, ai) -> transform(slice(array_sort(ds), ai + 2, size(ds)),
          |             b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  private val winnowingOracle = """
    WITH hashed AS (
      SELECT doc_id,
        list_transform(generate_series(1, length(text) - 7),
          i -> list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(i, i + 7),
                     j -> CAST(ascii(substr(text, j, 1)) AS BIGINT))),
                 (acc, x) -> acc * 31 + x)) AS hs
      FROM documents WHERE length(text) >= 23),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(hs) - 15),
            p -> list_min(hs[p:p+15]))) AS fp
        FROM hashed)),
    posting AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 20),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      JOIN posting p ON p.fp = a.fp)
    SELECT doc_a, doc_b, COUNT(*) AS n_shared
    FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ORDER BY doc_a, doc_b"""

  // ---------------------------------------------------------------- q297

  /** Lognormal document-length fit (method of moments on ln n_chars, the
    * textbook web-corpus length model): per source, μ̂ and σ̂² come from
    * source-ordered folds of ln(len) and ln²(len) — the q133 discipline
    * that makes a double sum order-independent without losing the exact
    * ln values — and the fitted median e^μ̂ / mean e^(μ̂+σ̂²/2) sit next
    * to the observed exact median and mean, the goodness check a corpus
    * engineer reads before trusting length-based quality cuts.
    */
  def lognormalFit(docs: DataFrame): DataFrame = {
    val folded = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      osum(expr("ln(CAST(n_chars AS DOUBLE))"), col("doc_id")).as("s1"),
      osum(expr("ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE))"),
        col("doc_id")).as("s2"),
      sum("n_chars").as("len_sum"),
      expr("percentile(n_chars, 0.5d)").as("med"))
    folded
      .withColumn("mu", col("s1") / col("n_docs"))
      .withColumn("sig2",
        col("s2") / col("n_docs") - (col("s1") / col("n_docs")) * (col("s1") / col("n_docs")))
      .select(col("source"), col("n_docs"),
        round(col("mu"), 6).as("mu"),
        round(col("sig2"), 6).as("sigma2"),
        round(exp(col("mu")), 4).as("fit_median"),
        col("med").as("obs_median"),
        round(exp(col("mu") + col("sig2") / 2), 4).as("fit_mean"),
        round(col("len_sum").cast("double") / col("n_docs").cast("double"), 4)
          .as("obs_mean"))
      .orderBy("source")
  }

  private val lognormalOracle = """
    WITH folded AS (
      SELECT source, COUNT(*) AS n_docs,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(ln(CAST(n_chars AS DOUBLE)) ORDER BY doc_id)),
          (acc, x) -> acc + x) AS s1,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE))
               ORDER BY doc_id)),
          (acc, x) -> acc + x) AS s2,
        SUM(n_chars) AS len_sum,
        median(n_chars) AS med
      FROM documents GROUP BY 1),
    m AS (
      SELECT source, n_docs, s1 / n_docs AS mu,
        s2 / n_docs - (s1 / n_docs) * (s1 / n_docs) AS sig2,
        len_sum, med
      FROM folded)
    SELECT source, n_docs, ROUND(mu, 6) AS mu, ROUND(sig2, 6) AS sigma2,
      ROUND(exp(mu), 4) AS fit_median,
      CAST(med AS DOUBLE) AS obs_median,
      ROUND(exp(mu + sig2 / 2), 4) AS fit_mean,
      ROUND(CAST(len_sum AS DOUBLE) / CAST(n_docs AS DOUBLE), 4) AS obs_mean
    FROM m ORDER BY source"""

  // ---------------------------------------------------------------- q298

  /** Blocklist-phrase audit: occurrence counts of a fixed phrase list
    * per source — the shape of every content-filter pass (toxicity
    * lists, litigation terms, licensing phrases) over a 100 TB corpus.
    * Counting is the replace-length identity (no regex engine
    * divergence); per (source, phrase) the report shows total hits and
    * documents hit, exact integers end-to-end. The phrase dimension is a
    * literal array — corpus × |phrases| scan work, no shuffle beyond
    * the rollup.
    */
  def blocklistAudit(docs: DataFrame): DataFrame = {
    val phrases = Seq("slow scan", "big join", "fast merge",
      "hash join", "table scan", "vector stream")
    val lit_arr = array(phrases.map(lit): _*)
    docs.select(col("doc_id"), col("source"), col("text"),
        explode(lit_arr).as("phrase"))
      .withColumn("hits",
        ((length(col("text")) - length(expr("replace(text, phrase, '')")))
          / length(col("phrase"))).cast("long"))
      .groupBy("source", "phrase")
      .agg(sum("hits").as("n_hits"),
        sum((col("hits") > 0).cast("long")).as("n_docs_hit"))
      .orderBy("source", "phrase")
  }

  private val blocklistOracle = """
    WITH p AS (
      SELECT unnest(['slow scan', 'big join', 'fast merge',
                     'hash join', 'table scan', 'vector stream']) AS phrase),
    hits AS (
      SELECT d.source, p.phrase,
        (length(d.text) - length(replace(d.text, p.phrase, '')))
          // length(p.phrase) AS hits
      FROM documents d CROSS JOIN p)
    SELECT source, phrase, CAST(SUM(hits) AS BIGINT) AS n_hits,
      CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit
    FROM hits GROUP BY 1, 2 ORDER BY source, phrase"""

  // ---------------------------------------------------------------- q299

  /** Fixed-vocabulary OOV audit: the top-20 corpus tokens form the
    * vocabulary and each source reports its out-of-vocabulary token
    * share plus the docs exceeding 30 % OOV — the pre-tokenizer health
    * check that catches a source whose token distribution the vocab was
    * not fit on. The vocabulary is broadcast by construction (top-k of
    * the postings rollup); the 30 % test is an exact integer comparison.
    */
  def oovRate(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      explode(expr("filter(split(text, ' '), t -> t <> '')")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok")).limit(20)
      .select(col("tok"), lit(1).as("in_vocab"))
    val marked = toks.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("oov", when(col("in_vocab").isNull, 1L).otherwise(0L))
    val perDoc = marked.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"), sum("oov").as("n_oov"))
    perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n").as("n_tokens"),
        sum("n_oov").as("n_oov"),
        sum(when(col("n_oov") * 100 > col("n") * 30, 1L).otherwise(0L))
          .as("n_docs_over_30pct"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"),
        col("n_docs_over_30pct"))
      .orderBy("source")
  }

  private val oovOracle = """
    WITH toks AS (
      SELECT doc_id, source,
        unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents),
    vocab AS (
      SELECT tok FROM (SELECT tok, COUNT(*) AS f FROM toks GROUP BY 1)
      ORDER BY f DESC, tok LIMIT 20),
    per_doc AS (
      SELECT t.doc_id, t.source, COUNT(*) AS n,
        SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
      CAST(SUM(n_oov) AS BIGINT) AS n_oov,
      ROUND(CAST(SUM(n_oov) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS oov_rate,
      CAST(SUM(CASE WHEN n_oov * 100 > n * 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_over_30pct
    FROM per_doc GROUP BY 1 ORDER BY source"""

  // ---------------------------------------------------------------- q318

  /** Positional-index phrase search: token postings carry positions,
    * and a two-word phrase resolves by joining the two words' postings
    * per document and intersecting positions offset by one — the
    * classic positional inverted-index algorithm (token-level exact
    * phrase semantics, unlike q298's substring counting). The postings
    * are filtered to the queried words BEFORE the join, so the shuffle
    * carries only the phrase vocabulary's postings — at 100 TB that is
    * the standard term-sharded search shape.
    */
  def phraseSearch(docs: DataFrame): DataFrame = {
    val phrases = Seq(("slow", "scan"), ("big", "join"), ("fast", "merge"))
    val words = phrases.flatMap(p => Seq(p._1, p._2)).distinct
    val postings = docs.select(col("doc_id"), col("source"),
        posexplode(expr("filter(split(text, ' '), t -> t <> '')"))
          .as(Seq("pos0", "tok")))
      .filter(col("tok").isin(words: _*))
      .select(col("doc_id"), col("source"), (col("pos0") + 1).as("pos"),
        col("tok"))
    val phraseDf = phrases
      .foldLeft(Option.empty[DataFrame]) { case (acc, (w1, w2)) =>
        val hits = postings.filter(col("tok") === w1)
          .select(col("doc_id"), col("source"), col("pos"))
          .join(postings.filter(col("tok") === w2)
              .select(col("doc_id"), (col("pos") - 1).as("pos")),
            Seq("doc_id", "pos"))
          .groupBy("source")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("n_occurrences"))
          .select(lit(s"$w1 $w2").as("phrase"), col("source"),
            col("n_docs"), col("n_occurrences"))
        Some(acc.map(_.unionAll(hits)).getOrElse(hits))
      }.get
    phraseDf.orderBy("phrase", "source")
  }

  private val phraseOracle = """
    WITH postings AS (
      SELECT doc_id, source, pos, tok FROM (
        SELECT doc_id, source,
          generate_subscripts(list_filter(string_split(text, ' '),
            t -> t <> ''), 1) AS pos,
          unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents)
      WHERE tok IN ('slow', 'scan', 'big', 'join', 'fast', 'merge')),
    pairs AS (
      SELECT 'slow scan' AS phrase, a.doc_id, a.source
      FROM postings a JOIN postings b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.tok = 'slow' AND b.tok = 'scan'
      UNION ALL
      SELECT 'big join', a.doc_id, a.source
      FROM postings a JOIN postings b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.tok = 'big' AND b.tok = 'join'
      UNION ALL
      SELECT 'fast merge', a.doc_id, a.source
      FROM postings a JOIN postings b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.tok = 'fast' AND b.tok = 'merge')
    SELECT phrase, source, COUNT(DISTINCT doc_id) AS n_docs,
      COUNT(*) AS n_occurrences
    FROM pairs GROUP BY 1, 2 ORDER BY phrase, source"""

  // ---------------------------------------------------------------- q322

  /** KV-cache prefix-sharing audit: with a 16-token shared-prefix
    * window (the inference-serving prefix-cache unit), documents
    * grouping on an identical prefix serve (g−1)·plen of their prefill
    * tokens from cache. Docs shorter than the window share on their
    * full token sequence. The report gives the corpus-wide saving share
    * — the number that decides whether radix-tree prefix caching pays
    * for a serving fleet. One groupBy on the prefix string; exact
    * integers throughout.
    */
  def prefixCacheAudit(docs: DataFrame, p: Int = 16): DataFrame = {
    val toks = docs.select(col("doc_id"),
      expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
    val pre = toks.select(col("doc_id"), size(col("toks")).as("n"),
      least(size(col("toks")), lit(p)).as("plen"),
      concat_ws(" ", expr(s"slice(toks, 1, $p)")).as("prefix"))
    val groups = pre.groupBy("prefix")
      .agg(count(lit(1)).as("g"), max("plen").as("plen"))
    groups.crossJoin(broadcast(pre.agg(sum("n").as("tokens_total"),
        count(lit(1)).as("n_docs"))))
      .agg(max("n_docs").as("n_docs"),
        count(lit(1)).as("n_groups"),
        sum(when(col("g") >= 2, col("g")).otherwise(0L)).as("n_shared_docs"),
        max("tokens_total").as("tokens_total"),
        sum((col("g") - 1) * col("plen")).as("tokens_saved"),
        max(col("g")).as("max_group"))
      .select(col("n_docs"), col("n_groups"), col("n_shared_docs"),
        col("tokens_total"), col("tokens_saved"), col("max_group"),
        round(col("tokens_saved").cast("double")
          / col("tokens_total").cast("double"), 6).as("saving_share"))
  }

  private val prefixCacheOracle = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
    pre AS (
      SELECT doc_id, len(toks) AS n, LEAST(len(toks), 16) AS plen,
        array_to_string(toks[1:16], ' ') AS prefix
      FROM toks),
    groups AS (
      SELECT prefix, COUNT(*) AS g, MAX(plen) AS plen
      FROM pre GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tokens_total,
              COUNT(*) AS n_docs FROM pre)
    SELECT MAX(n_docs) AS n_docs, COUNT(*) AS n_groups,
      CAST(SUM(CASE WHEN g >= 2 THEN g ELSE 0 END) AS BIGINT) AS n_shared_docs,
      MAX(tokens_total) AS tokens_total,
      CAST(SUM((g - 1) * plen) AS BIGINT) AS tokens_saved,
      CAST(MAX(g) AS BIGINT) AS max_group,
      ROUND(CAST(SUM((g - 1) * plen) AS DOUBLE)
        / CAST(MAX(tokens_total) AS DOUBLE), 6) AS saving_share
    FROM groups, tot"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q335

  /** Gopher-style within-document repetition gate (Rae et al. 2021
    * §A1.1): the fraction of a document's word trigrams that are
    * duplicates (1 − distinct/total), the screen that drops
    * boilerplate/looped text before training. Per-source rollup: mean
    * duplicate fraction and the share of documents over the 20% gate.
    * Every fraction is an exact integer ppm quotient. One native
    * WordNGrams pass + one postings-shaped groupBy — never doc×doc.
    * Documents under 3 words have no trigrams and are excluded (the
    * corpus invariant: no empty/short docs — see oracle-exactness notes).
    */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    import graft.functions.WordNGrams.word_ngrams
    val per = docs
      .select(col("doc_id"), col("source"),
        explode(word_ngrams(col("text"), 3)).as("g"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("total"), countDistinct("g").as("dis"))
      .withColumn("dup_ppm", expr("(total - dis) * 1000000 DIV total"))
    per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(dup_ppm) DIV count(1)").as("avg_dup_ppm"),
        sum((col("dup_ppm") > 200000L).cast("long")).as("n_flagged"),
        max("dup_ppm").as("max_dup_ppm"))
      .orderBy("source")
  }

  private val gopherOracle = """
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                  FROM documents),
    grams AS (
      SELECT doc_id, source,
        unnest(list_transform(range(1, len(t) - 1),
          i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
      FROM toks WHERE len(t) >= 3),
    per AS (
      SELECT doc_id, source, COUNT(*) AS total, COUNT(DISTINCT g) AS dis,
        (COUNT(*) - COUNT(DISTINCT g)) * 1000000 // COUNT(*) AS dup_ppm
      FROM grams GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(dup_ppm) // COUNT(*) AS BIGINT) AS avg_dup_ppm,
      CAST(SUM(CASE WHEN dup_ppm > 200000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_flagged,
      CAST(MAX(dup_ppm) AS BIGINT) AS max_dup_ppm
    FROM per GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------- q370

  /** Rank-biased overlap (Webber et al. TOIS'10), p=0.9, depth 20,
    * between the two alphabetically-first sources' token rankings —
    * the top-weighted similarity of two keyword lists that plain
    * set-overlap (q257) can't see: agreement at rank 1 counts far more
    * than at rank 20. Truncated RBO = (1−p)·Σ_d p^(d−1)·|A_d∩B_d|/d
    * plus the residual bound. Rankings are count-desc, token-pinned;
    * the depth lattice is 20 rows — intersections are exact integer
    * counts, the weighted sum is a fixed 20-term double fold (d
    * order) identical on both engines.
    */
  def rboOverlap(docs: DataFrame, depth: Int = 20, p: Double = 0.9): DataFrame = {
    val s = docs.sparkSession
    val two = docs.select(col("source")).distinct().orderBy("source").limit(2)
      .collect().map(_.getString(0))
    val ranked = docs.filter(col("source").isin(two.toSeq: _*))
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("w"))))
      .filter(col("rk") <= depth)
      .localCheckpoint()
    val a = ranked.filter(col("source") === two(0))
      .select(col("w"), col("rk").as("ra"))
    val b = ranked.filter(col("source") === two(1))
      .select(col("w"), col("rk").as("rb"))
    val joined = a.join(b, "w")
    val depths = s.range(1, depth + 1).select(col("id").as("d"))
    val agreement = depths.join(joined,
        col("ra") <= col("d") && col("rb") <= col("d"), "left")
      .groupBy("d").agg(sum(when(col("w").isNotNull, 1L).otherwise(0L))
        .as("inter"))
      .select(col("d"), col("inter"),
        (col("inter").cast("double") / col("d").cast("double")).as("a_d"))
    val rbo = agreement
      .agg(osum(expr(s"power($p, d - 1) * a_d"), col("d")).as("sum_w"))
      .select(round(expr(s"(1 - $p) * sum_w"), 6).as("rbo_min"),
        round(expr(s"(1 - $p) * sum_w + power($p, $depth)"), 6)
          .as("rbo_max"))
    agreement.filter(col("d") === depth)
      .select(col("inter").as("overlap_at_20"))
      .crossJoin(rbo)
      .select(lit(two(0)).as("source_a"), lit(two(1)).as("source_b"),
        col("overlap_at_20"), col("rbo_min"), col("rbo_max"))
  }

  private def rboOracle(depth: Int = 20, p: Double = 0.9): String = s"""
    WITH two AS (
      SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS sn
      FROM (SELECT DISTINCT source FROM documents)
      ORDER BY source LIMIT 2),
    ranked AS MATERIALIZED (
      SELECT source, w, ROW_NUMBER() OVER (PARTITION BY source
        ORDER BY COUNT(*) DESC, w) AS rk
      FROM (
        SELECT d.source, unnest(string_split(d.text, ' ')) AS w
        FROM documents d WHERE d.source IN (SELECT source FROM two)) t
      WHERE len(w) > 0
      GROUP BY source, w),
    a AS (SELECT w, rk AS ra FROM ranked
          WHERE source = (SELECT source FROM two WHERE sn = 1)
            AND rk <= $depth),
    b AS (SELECT w, rk AS rb FROM ranked
          WHERE source = (SELECT source FROM two WHERE sn = 2)
            AND rk <= $depth),
    j AS (SELECT a.w, ra, rb FROM a JOIN b USING (w)),
    agreement AS MATERIALIZED (
      SELECT d,
        CAST(COALESCE(SUM(CASE WHEN ra <= d AND rb <= d THEN 1 END), 0)
          AS BIGINT) AS inter
      FROM (SELECT unnest(generate_series(1, $depth)) AS d) ds
      LEFT JOIN j ON TRUE
      GROUP BY d),
    rbo AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(power($p, d - 1) * (CAST(inter AS DOUBLE) / CAST(d AS DOUBLE))
            ORDER BY d)),
          (acc, v) -> acc + v) AS sum_w
      FROM agreement)
    SELECT (SELECT source FROM two WHERE sn = 1) AS source_a,
      (SELECT source FROM two WHERE sn = 2) AS source_b,
      (SELECT inter FROM agreement WHERE d = $depth) AS overlap_at_20,
      ROUND((1 - $p) * sum_w, 6) AS rbo_min,
      ROUND((1 - $p) * sum_w + power($p, $depth), 6) AS rbo_max
    FROM rbo"""

  override def queries: Seq[Q] = Seq(
    Q("q370_rbo_overlap",
      (s, d) => rboOverlap(documents(s, d)), Some(rboOracle())),
    Q("q335_gopher_repetition",
      (s, d) => gopherRepetition(documents(s, d)), Some(gopherOracle)),
    Q("q293_mattr", (s, d) => mattr(documents(s, d)), Some(mattrOracle)),
    Q("q294_gries_dp", (s, d) => griesDp(documents(s, d)), Some(griesDpOracle)),
    Q("q295_vocab_coverage",
      (s, d) => vocabCoverage(documents(s, d)), Some(vocabCoverageOracle)),
    Q("q296_winnowing_pairs",
      (s, d) => winnowingPairs(documents(s, d)), Some(winnowingOracle)),
    Q("q297_lognormal_fit",
      (s, d) => lognormalFit(documents(s, d)), Some(lognormalOracle)),
    Q("q298_blocklist_audit",
      (s, d) => blocklistAudit(documents(s, d)), Some(blocklistOracle)),
    Q("q299_oov_rate", (s, d) => oovRate(documents(s, d)), Some(oovOracle)),
    Q("q318_phrase_search",
      (s, d) => phraseSearch(documents(s, d)), Some(phraseOracle)),
    Q("q322_prefix_cache_audit",
      (s, d) => prefixCacheAudit(documents(s, d)), Some(prefixCacheOracle)),
  )
}
