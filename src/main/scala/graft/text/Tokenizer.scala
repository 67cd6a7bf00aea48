package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num.{dec, osum}

/** Tokenizer-training analytics (SURVEY.md §2.9 extension surface):
  * BPE/WordPiece merge-candidate scoring over the corpus word-frequency
  * table, and a Kneser-Ney smoothed bigram language model evaluated as
  * a per-source perplexity filter. The reference has no tokenizer or LM
  * surface at all (its text handling stops at file-name parsing,
  * `02_Data Ingest.py:93-100`).
  *
  * Oracle-exactness discipline (graft-oracle-exactness): merge ranks
  * order by exact integer pair counts; KN probabilities are one pinned
  * closed form over exact counts; per-doc log-likelihood folds run in
  * pinned (w1,w2) order and per-source rollups sum 1e-9-rounded
  * decimals (the q260 pattern).
  *
  * Scale discipline: BPE statistics run on the distinct-word frequency
  * table (vocabulary-sized, orders of magnitude below the corpus — the
  * same compression every real BPE trainer exploits); the KN model's
  * count tables are postings-sized, joined back to per-doc bigram
  * multisets on the bigram key.
  */
object Tokenizer extends QueryModule {

  // ---------------------------------------------------------------- q273

  /** Top-10 BPE merge candidates from character-level initialization:
    * adjacent character-pair counts weighted by word frequency (the
    * exact statistic a BPE trainer maximizes each round), plus the
    * WordPiece alternative score count/(c_left*c_right) that normalizes
    * by symbol mass. Rank is the exact integer (count DESC, pair ASC);
    * the WordPiece score is output-only. One corpus pass builds the
    * word-freq table; all pair statistics run on the vocabulary.
    */
  def bpeMergeCandidates(docs: DataFrame): DataFrame = {
    val wf = docs.select(explode(
        filter(split(col("text"), " "), t => t =!= lit(""))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .localCheckpoint() // vocabulary-sized; reused by pair + symbol counts
    val pairs = wf.select(col("f"), explode(expr(
        """CASE WHEN length(w) >= 2
          |THEN transform(sequence(1, length(w)-1), i -> substring(w, i, 2))
          |ELSE array() END""".stripMargin)).as("pair"))
      .groupBy("pair").agg(sum("f").cast("long").as("cnt"))
    val chars = wf.select(col("f"),
        explode(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
          .as("ch"))
      .groupBy("ch").agg(sum("f").cast("long").as("cc"))
    val scored = pairs
      .join(broadcast(chars.select(col("ch").as("lch"), col("cc").as("cl"))),
        expr("substring(pair, 1, 1) = lch"))
      .join(broadcast(chars.select(col("ch").as("rch"), col("cc").as("cr"))),
        expr("substring(pair, 2, 1) = rch"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("pair"))))
    scored.filter(col("rnk") <= 10)
      .select(col("rnk").cast("long").as("bpe_rank"), col("pair"),
        col("cnt").as("pair_count"), col("cl").as("left_count"),
        col("cr").as("right_count"),
        round(col("cnt").cast("double") * 1.0e9
          / (col("cl").cast("double") * col("cr").cast("double")), 6)
          .as("wordpiece_score_e9"))
      .orderBy("bpe_rank")
  }

  private val bpeOracle = """
    WITH wf AS (
      SELECT w, COUNT(*) AS f FROM (
        SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
        FROM documents)
      GROUP BY 1),
    pairs AS (
      SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt FROM (
        SELECT f, unnest(CASE WHEN len(w) >= 2
          THEN list_transform(generate_series(1, len(w)-1),
            i -> substring(w, i, 2))
          ELSE [] END) AS pair
        FROM wf)
      GROUP BY 1),
    chars AS (
      SELECT ch, CAST(SUM(f) AS BIGINT) AS cc FROM (
        SELECT f, unnest(list_transform(generate_series(1, len(w)),
          i -> substring(w, i, 1))) AS ch
        FROM wf)
      GROUP BY 1),
    scored AS (
      SELECT p.pair, p.cnt, l.cc AS cl, r.cc AS cr,
        ROW_NUMBER() OVER (ORDER BY p.cnt DESC, p.pair) AS rnk
      FROM pairs p
      JOIN chars l ON substring(p.pair, 1, 1) = l.ch
      JOIN chars r ON substring(p.pair, 2, 1) = r.ch)
    SELECT CAST(rnk AS BIGINT) AS bpe_rank, pair, cnt AS pair_count,
      cl AS left_count, cr AS right_count,
      ROUND(CAST(cnt AS DOUBLE) * 1.0e9
        / (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE)), 6) AS wordpiece_score_e9
    FROM scored WHERE rnk <= 10 ORDER BY bpe_rank"""

  // ---------------------------------------------------------------- q274

  /** Interpolated Kneser-Ney bigram LM (fixed discount d=0.75) evaluated
    * over its own training corpus as a per-source perplexity filter:
    * P(w2|w1) = (max(c(w1,w2)-d, 0) + d·N1+(w1,·)·(N1+(·,w2)/NT)) / c(w1,·)
    * — the statistic behind LM-based quality filtering, with the
    * continuation-count backoff that plain MLE/add-k (q260) lacks.
    * Counts are exact integers; each doc folds k·ln(p) in pinned
    * (w1,w2) order; per-source averages sum 1e-9-rounded decimals.
    */
  def kneserNeyBigram(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      split(col("text"), " ").as("t"))
    val bg = toks.select(col("doc_id"), col("source"),
        explode(expr("""CASE WHEN size(t) >= 2
          |THEN transform(sequence(0, size(t)-2),
          |  i -> named_struct('w1', t[i], 'w2', t[i+1]))
          |ELSE array() END""".stripMargin)).as("b"))
      .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
      .localCheckpoint() // reused: LM count tables + doc scoring
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = bg.groupBy("w1").agg(count(lit(1)).as("cu"),
      countDistinct("w2").as("n1f"))
    val n1b = bg.select("w1", "w2").distinct()
      .groupBy("w2").agg(count(lit(1)).as("n1b"))
    val nt = bg.select("w1", "w2").distinct().agg(count(lit(1)).as("nt"))
    val dbg = bg.groupBy("doc_id", "source", "w1", "w2")
      .agg(count(lit(1)).as("k"))
    val perDoc = dbg
      .join(cb, Seq("w1", "w2")).join(cu, Seq("w1")).join(n1b, Seq("w2"))
      .crossJoin(broadcast(nt))
      .withColumn("term", expr(
        """CAST(k AS DOUBLE) * ln(
          |  (GREATEST(CAST(cb AS DOUBLE) - 0.75, 0.0)
          |   + 0.75 * CAST(n1f AS DOUBLE)
          |     * (CAST(n1b AS DOUBLE) / CAST(nt AS DOUBLE)))
          |  / CAST(cu AS DOUBLE))""".stripMargin))
      .groupBy("doc_id", "source")
      .agg(sum("k").as("n_bg"),
        osum(col("term"), col("w1"), col("w2")).as("s"))
      .withColumn("xent", round(expr("-s / CAST(n_bg AS DOUBLE)"), 9))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bg").cast("long").as("n_bigrams"),
        (sum(dec(col("xent"), 9)).cast("double") / count(lit(1)))
          .as("avg_xent_nats"))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        round(col("avg_xent_nats"), 6).as("avg_xent_nats"),
        round(exp(round(col("avg_xent_nats"), 6)), 4).as("perplexity"))
      .orderBy("source")
  }

  private val knOracle = """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    bg AS MATERIALIZED (
      SELECT doc_id, source,
        unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks),
    cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    cu AS (SELECT w1, COUNT(*) AS cu, COUNT(DISTINCT w2) AS n1f
      FROM bg GROUP BY 1),
    n1b AS (SELECT w2, COUNT(*) AS n1b FROM
      (SELECT DISTINCT w1, w2 FROM bg) GROUP BY 1),
    nt AS (SELECT COUNT(*) AS nt FROM (SELECT DISTINCT w1, w2 FROM bg)),
    dbg AS (
      SELECT doc_id, source, w1, w2, COUNT(*) AS k FROM bg GROUP BY 1, 2, 3, 4),
    terms AS (
      SELECT d.doc_id, d.source, d.w1, d.w2, d.k,
        CAST(d.k AS DOUBLE) * ln(
          (GREATEST(CAST(cb.cb AS DOUBLE) - 0.75, 0.0)
           + 0.75 * CAST(cu.n1f AS DOUBLE)
             * (CAST(n1b.n1b AS DOUBLE) / CAST(nt.nt AS DOUBLE)))
          / CAST(cu.cu AS DOUBLE)) AS term
      FROM dbg d
      JOIN cb ON d.w1 = cb.w1 AND d.w2 = cb.w2
      JOIN cu ON d.w1 = cu.w1
      JOIN n1b ON d.w2 = n1b.w2
      CROSS JOIN nt),
    perdoc AS (
      SELECT doc_id, source, SUM(k) AS n_bg,
        ROUND(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(term ORDER BY w1, w2)), (acc, x) -> acc + x)
          / CAST(SUM(k) AS DOUBLE), 9) AS xent
      FROM terms GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_bg) AS BIGINT) AS n_bigrams,
      ROUND(CAST(SUM(CAST(xent AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
        AS avg_xent_nats,
      ROUND(exp(ROUND(CAST(SUM(CAST(xent AS DECIMAL(18,9))) AS DOUBLE)
        / COUNT(*), 6)), 4) AS perplexity
    FROM perdoc GROUP BY 1 ORDER BY source"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q363

  /** Tokenizer vocab-size compression curve: with a top-k word vocab
    * (rank pinned by count desc, word), an in-vocab word costs one
    * token and an OOV word falls back to one token per character —
    * the chars-per-token and OOV-share curve over k ∈ {100, 500,
    * 2000} that sizes a vocabulary before training one. The corpus
    * collapses to the word-count table in one pass; each k is a
    * conditional sum over that table, not the corpus.
    */
  def vocabSizeCurve(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("w"))))
      .withColumn("len", length(col("w")))
      .localCheckpoint()
    Seq(100, 500, 2000).map { k =>
      counts.agg(
          sum(when(col("rk") <= k, col("c"))
            .otherwise(col("c") * col("len"))).as("total_tokens"),
          sum(col("c") * col("len")).as("total_chars"),
          sum(when(col("rk") > k, col("c") * col("len"))).as("oov_tokens"),
          sum((col("rk") <= k).cast("long")).as("vocab_words"))
        .select(lit(k.toLong).as("vocab_k"), col("vocab_words"),
          col("total_tokens"),
          round(col("total_chars").cast("double")
            / col("total_tokens").cast("double"), 4).as("chars_per_token"),
          round(coalesce(col("oov_tokens"), lit(0L)).cast("double")
            / col("total_tokens").cast("double"), 6).as("oov_token_share"))
    }.reduce(_ unionAll _).orderBy("vocab_k")
  }

  private val vocabCurveOracle = """
    WITH counts AS MATERIALIZED (
      SELECT w, COUNT(*) AS c, LENGTH(w) AS len,
        ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE LENGTH(w) > 0 GROUP BY w),
    ks AS (SELECT unnest([100, 500, 2000]) AS k),
    curve AS (
      SELECT k,
        CAST(SUM(CASE WHEN rk <= k THEN 1 ELSE 0 END) AS BIGINT)
          AS vocab_words,
        CAST(SUM(CASE WHEN rk <= k THEN c ELSE c * len END) AS BIGINT)
          AS total_tokens,
        CAST(SUM(c * len) AS BIGINT) AS total_chars,
        CAST(COALESCE(SUM(CASE WHEN rk > k THEN c * len END), 0) AS BIGINT)
          AS oov_tokens
      FROM counts CROSS JOIN ks GROUP BY k)
    SELECT CAST(k AS BIGINT) AS vocab_k, vocab_words, total_tokens,
      ROUND(CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE), 4)
        AS chars_per_token,
      ROUND(CAST(oov_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
        AS oov_token_share
    FROM curve ORDER BY vocab_k"""

  override def queries: Seq[Q] = Seq(
    Q("q363_vocab_size_curve",
      (s, d) => vocabSizeCurve(documents(s, d)), Some(vocabCurveOracle)),
    Q("q273_bpe_candidates",
      (s, d) => bpeMergeCandidates(documents(s, d)), Some(bpeOracle)),
    Q("q274_kneser_ney",
      (s, d) => kneserNeyBigram(documents(s, d)), Some(knOracle)),
  )
}
