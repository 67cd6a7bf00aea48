package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._

/** Text-analysis operators for a large-scale training-data pipeline
  * (SURVEY.md §2.9): token statistics, n-gram-heuristic language ID,
  * quality scoring, BPE-ish token counting, document fingerprinting.
  * All purely declarative (builtin + higher-order functions, no UDFs) so
  * the whole stage stays inside WholeStageCodegen and scales linearly —
  * one narrow map over the corpus, aggregation with map-side combine.
  */
object TextAnalysis extends QueryModule {

  private def tokens(c: Column): Column = split(c, " ")

  /** Per-language token statistics. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("lang")

  private val tokenStatsOracle = """
    WITH d AS (SELECT lang, n_chars,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
      MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
    FROM d GROUP BY lang ORDER BY lang"""

  /** Stopword-hit language heuristic: count hits against small per-language
    * lexicons, predict the argmax (ties broken by fixed precedence),
    * emit the lang-vs-predicted confusion matrix.
    */
  def langId(docs: DataFrame): DataFrame = {
    def hits(words: Seq[String]): Column = {
      val set = words.map(w => s"'$w'").mkString(", ")
      expr(s"size(filter(split(text, ' '), t -> t IN ($set)))")
    }
    val en = hits(Seq("the", "a", "of", "to", "and"))
    val de = hits(Seq("der", "die", "und", "das", "ist"))
    val fr = hits(Seq("le", "la", "et", "les", "des"))
    val es = hits(Seq("el", "los", "las", "por", "que"))
    docs
      .withColumn("en_h", en).withColumn("de_h", de)
      .withColumn("fr_h", fr).withColumn("es_h", es)
      .withColumn("predicted_lang",
        when(col("en_h") >= col("de_h") && col("en_h") >= col("fr_h") &&
             col("en_h") >= col("es_h") && col("en_h") > 0, lit("en"))
        .when(col("de_h") >= col("fr_h") && col("de_h") >= col("es_h") &&
              col("de_h") > 0, lit("de"))
        .when(col("fr_h") >= col("es_h") && col("fr_h") > 0, lit("fr"))
        .when(col("es_h") > 0, lit("es"))
        .otherwise(lit("und")))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted_lang")
  }

  private val langIdOracle = """
    WITH h AS (
      SELECT lang,
        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','to','and'))) AS en_h,
        len(list_filter(string_split(text, ' '), t -> t IN ('der','die','und','das','ist'))) AS de_h,
        len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','les','des'))) AS fr_h,
        len(list_filter(string_split(text, ' '), t -> t IN ('el','los','las','por','que'))) AS es_h
      FROM documents),
    p AS (
      SELECT lang,
        CASE WHEN en_h >= de_h AND en_h >= fr_h AND en_h >= es_h AND en_h > 0 THEN 'en'
             WHEN de_h >= fr_h AND de_h >= es_h AND de_h > 0 THEN 'de'
             WHEN fr_h >= es_h AND fr_h > 0 THEN 'fr'
             WHEN es_h > 0 THEN 'es'
             ELSE 'und' END AS predicted_lang
      FROM h)
    SELECT lang, predicted_lang, COUNT(*) AS n_docs
    FROM p GROUP BY lang, predicted_lang ORDER BY lang, predicted_lang"""

  /** Heuristic quality score in [0,1]: length term + stopword-density term
    * + punctuation-penalty term. Per-document doubles are deterministic
    * (identical IEEE op sequence in both engines); the per-source average
    * goes through an exact decimal sum.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val nTok  = size(tokens(col("text")))
    val stop  = expr("size(filter(split(text, ' '), t -> t IN ('the','a','of','to','and','is','in')))")
    val punct = regexp_count(col("text"), lit("[^a-z0-9 ]"))
    val q =
      lit(0.5) * least(lit(1.0), nTok / lit(100.0)) +
      lit(0.3) * least(lit(1.0), (stop * lit(10.0)) / nTok) +
      lit(0.2) * (lit(1.0) - least(lit(1.0), (punct * lit(1.0)) / col("n_chars")))
    docs.withColumn("q", q)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(dec(col("q"), 8)).cast("double") / count(lit(1))).as("avg_quality"),
        min(col("q")).as("min_quality"),
        max(col("q")).as("max_quality"))
      .orderBy("source")
  }

  private val qualityOracle = """
    WITH s AS (
      SELECT source,
        0.5 * LEAST(1.0, len(string_split(text, ' ')) / 100.0) +
        0.3 * LEAST(1.0, (len(list_filter(string_split(text, ' '),
            t -> t IN ('the','a','of','to','and','is','in'))) * 10.0) / len(string_split(text, ' '))) +
        0.2 * (1.0 - LEAST(1.0, (len(regexp_extract_all(text, '[^a-z0-9 ]')) * 1.0) / n_chars)) AS q
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CAST(q AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_quality,
      MIN(q) AS min_quality, MAX(q) AS max_quality
    FROM s GROUP BY source ORDER BY source"""

  /** BPE-ish regex token counting per language: alpha runs, digit runs,
    * other non-space symbols — the three classic pre-tokenizer classes.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.groupBy("lang")
      .agg(
        sum(regexp_count(col("text"), lit("[a-z]+")).cast("long")).as("alpha_tokens"),
        sum(regexp_count(col("text"), lit("[0-9]+")).cast("long")).as("digit_tokens"),
        sum(regexp_count(col("text"), lit("[^a-z0-9 ]")).cast("long")).as("symbol_tokens"),
        sum(size(split(col("text"), " ")).cast("long")).as("ws_tokens"))
      .orderBy("lang")

  private val tokenCountsOracle = """
    SELECT lang,
      CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS alpha_tokens,
      CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS digit_tokens,
      CAST(SUM(len(regexp_extract_all(text, '[^a-z0-9 ]'))) AS BIGINT) AS symbol_tokens,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
    FROM documents GROUP BY lang ORDER BY lang"""

  /** Document fingerprints: an md5 content digest over
    * whitespace-normalized lowercased text, plus a true polynomial
    * rolling hash (base-31 char fold mod 1e9+7) computed as a single
    * `aggregate` fold — the incremental-hash primitive a streaming
    * fingerprinter would maintain. Spark seeds the fold with the first
    * character to match DuckDB's seedless `list_reduce` semantics.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " ")).cast("binary")).as("fingerprint"),
        substring(md5(lower(regexp_replace(col("text"), "\\s+", " ")).cast("binary")), 1, 4)
          .as("shard_key"),
        // single-reference fold (the CollapseProject fold-once rule): the
        // slice/element_at form evaluated the full char-transform three
        // times per row; the -1 sentinel reproduces DuckDB list_reduce's
        // seedless semantics (first element passes through unreduced —
        // ascii() is never negative, so the sentinel is unambiguous)
        expr(
          "aggregate(transform(split(text, ''), c -> cast(ascii(c) as bigint)), " +
            "cast(-1 as bigint), " +
            "(h, a) -> if(h = -1L, a, pmod(h * 31 + a, 1000000007L)))").as("rolling_hash"))
      .orderBy("doc_id")

  private val fingerprintsOracle = """
    SELECT doc_id,
      md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
      substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 4) AS shard_key,
      list_reduce(list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        (h, a) -> (h * 31 + a) % 1000000007) AS rolling_hash
    FROM documents ORDER BY doc_id"""

  /** Corpus audit over GROUPING SETS ((lang,source),(lang),(source),()),
    * built by reaggregation from the finest level (the Expand-free
    * pattern, see Relational.revenueRollup): doc counts and exact
    * distinct-fingerprint cardinalities per set.
    */
  def langSourceSets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{md5 => smd5}
    val base = docs.select(col("lang"), col("source"),
      smd5(col("text").cast("binary")).as("h"))
    // exactly two corpus-sized passes (fine counts + the hash-distinct
    // projection), localCheckpointed; every coarser level reaggregates
    // these reduced inputs instead of re-scanning the corpus — the true
    // Expand-free shape the docstring promises
    val fine = base.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_distinct"))
      .localCheckpoint()
    val dedup3 = base.distinct().localCheckpoint() // (lang, source, h)
    def lvl(keys: Seq[String]): DataFrame = {
      val docsAgg = (if (keys.isEmpty) fine.groupBy() else fine.groupBy(keys.map(col): _*))
        .agg(sum(col("n_docs")).as("n_docs"))
      val distAgg = (if (keys.isEmpty) dedup3.groupBy() else dedup3.groupBy(keys.map(col): _*))
        .agg(countDistinct(col("h")).as("n_distinct"))
      val agg = if (keys.isEmpty) docsAgg.crossJoin(distAgg)
        else docsAgg.join(distAgg, keys)
      val withLang = if (keys.contains("lang")) agg else agg.withColumn("lang", lit(null).cast("string"))
      if (keys.contains("source")) withLang else withLang.withColumn("source", lit(null).cast("string"))
    }
    fine.select("lang", "source", "n_docs", "n_distinct")
      .union(lvl(Seq("lang")).select("lang", "source", "n_docs", "n_distinct"))
      .union(lvl(Seq("source")).select("lang", "source", "n_docs", "n_distinct"))
      .union(lvl(Nil).select("lang", "source", "n_docs", "n_distinct"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_distinct"))
      .orderBy("lang", "source")
  }

  private val langSourceSetsOracle = """
    SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
      COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
    ORDER BY lang, source"""

  /** Per-language character-trigram profile: the top-k most frequent
    * char 3-grams of the lowercased text per lang — the n-gram signal a
    * statistical language identifier trains on (complements the
    * stopword-hit heuristic of q21). Rank key (count DESC, trigram ASC)
    * is integer/string, engine-stable. Scale shape: one explode (narrow),
    * one (lang, tri) hash aggregate, one bounded top-k window over
    * |langs| x |observed trigrams| aggregated rows — never raw text rows.
    */
  def charTrigrams(docs: DataFrame, k: Int = 5): DataFrame = {
    // Native one-pass n-gram expression (graft.functions.CharNGrams):
    // bit-identical to `transform(sequence(...), i -> lower(substring(text,
    // i, 3)))` but without the per-element interpreted lambda (and note the
    // HOF twin must lower() the slice, not the document — CollapseProject
    // inlines into lambdas without CSE, the WordShingles fold-once rule).
    // Pinned against the HOF form in NativeExprSpec.
    import graft.functions.CharNGrams.char_ngrams
    val tri = docs.filter(length(col("text")) >= 3)
      .select(col("lang"), explode(char_ngrams(col("text"), 3)).as("tri"))
    val counts = tri.groupBy("lang", "tri").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tri"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("lang", "rk", "tri", "n")
      .orderBy("lang", "rk")
  }

  private val charTrigramsOracle = """
    WITH tri AS (
      SELECT lang, unnest(list_transform(range(1, len(text) - 1),
        i -> lower(substr(text, i, 3)))) AS tri
      FROM documents WHERE len(text) >= 3),
    counts AS (SELECT lang, tri, COUNT(*) AS n FROM tri GROUP BY 1, 2),
    ranked AS (
      SELECT lang, tri, n,
        CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri) AS BIGINT) AS rk
      FROM counts)
    SELECT lang, rk, tri, n FROM ranked WHERE rk <= 5 ORDER BY lang, rk"""

  /** Repetition audit (Gopher/C4-style curation signal): per-document
    * duplicate-token mass and heaviest token / adjacent-bigram
    * frequencies — the metrics repetition filters threshold on before
    * training. Integer-only outputs (counts, not fractions) so the
    * oracle hash is immune to divide/round divergence; consumers derive
    * ratios. One narrow pass: token stats via HOFs in the scan
    * projection, top-counts via explode → two-phase hash aggregation
    * (map-side combine keeps the shuffle at |doc × distinct-gram|).
    */
  def repetitionAudit(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val base = toks.select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      size(array_distinct(col("t"))).cast("long").as("n_distinct"))
    val topTok = toks.select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max(col("n")).as("top_token_n"))
    // guarded bigram build: sequence() flips to a DESCENDING step when
    // start > stop, so a 1-token doc must yield array() not [0,-1]
    val topBg = toks.select(col("doc_id"),
        explode(expr("""CASE WHEN size(t) >= 2
          THEN transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))
          ELSE array() END""")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max(col("n")).as("top_bigram_n"))
    base.join(topTok, Seq("doc_id"), "left").join(topBg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_tokens") - col("n_distinct")).as("dup_tokens"),
        coalesce(col("top_token_n"), lit(0L)).as("top_token_n"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .orderBy("doc_id")
  }

  private val repetitionOracle = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM t),
    tok AS (SELECT doc_id, MAX(cnt) AS top_token_n FROM (
      SELECT doc_id, tok, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok)
      GROUP BY doc_id),
    bg AS (SELECT doc_id, MAX(cnt) AS top_bigram_n FROM (
      SELECT doc_id, b, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
          i -> toks[i] || ' ' || toks[i+1])) AS b FROM t) GROUP BY doc_id, b)
      GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct, n_tokens - n_distinct AS dup_tokens,
      COALESCE(top_token_n, 0) AS top_token_n,
      COALESCE(top_bigram_n, 0) AS top_bigram_n
    FROM base LEFT JOIN tok USING (doc_id) LEFT JOIN bg USING (doc_id)
    ORDER BY doc_id"""

  /** PII scrubbing: redact emails and phone-shaped tokens with portable
    * regexes (character classes + bounded quantifiers only — identical
    * leftmost match under Java regex and RE2). The corpus text carries no
    * PII, so each document is tainted with a deterministic doc_id-derived
    * email + phone first; the md5 of the scrubbed text pins the exact
    * replacement behavior in both engines. Pure scan-side projection —
    * no shuffle, codegen'd end-to-end; at 100 TB this runs at read
    * bandwidth.
    */
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\+[0-9][0-9-]{4,}[0-9]"

  def piiScrub(docs: DataFrame): DataFrame = {
    val tainted = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@mail.example.com call +1-555-"), col("doc_id"), lit(" ok"))
    docs.select(col("doc_id"), tainted.as("txt"))
      .select(col("doc_id"),
        regexp_count(col("txt"), lit(emailPat)).cast("long").as("n_emails"),
        regexp_count(col("txt"), lit(phonePat)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("txt"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>").as("scrubbed"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("scrubbed")).as("scrub_md5"),
        length(col("scrubbed")).cast("long").as("n_chars_scrubbed"))
      .orderBy("doc_id")
  }

  private val piiScrubOracle = """
    WITH t AS (SELECT doc_id,
      text || ' contact user' || doc_id || '@mail.example.com call +1-555-' || doc_id || ' ok' AS txt
      FROM documents),
    s AS (SELECT doc_id, txt,
      regexp_replace(regexp_replace(txt,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\+[0-9][0-9-]{4,}[0-9]', '<PHONE>', 'g') AS scrubbed FROM t)
    SELECT doc_id,
      CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(txt, '\+[0-9][0-9-]{4,}[0-9]')) AS BIGINT) AS n_phones,
      md5(scrubbed) AS scrub_md5,
      CAST(length(scrubbed) AS BIGINT) AS n_chars_scrubbed
    FROM s ORDER BY doc_id"""

  /** Greedy per-language token-budget sampling — the mixture-building
    * step of a training-data build: within each language, documents are
    * admitted longest-first (tiebreak doc_id) until the language's token
    * budget is exhausted; the audit reports how many docs/tokens each
    * language contributed. One window pass per language (cumulative sum
    * over the sorted partition) — no driver loop, no collect; at 100 TB
    * the per-lang partitions sort independently and a skewed language
    * salts into sub-ranges that are prefix-summed and offset.
    */
  def tokenBudgetSample(docs: DataFrame, budget: Long = 2000L): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_tokens")).as("n_tokens_kept"))
      .orderBy("lang")
  }

  private val tokenBudgetOracle = """
    WITH t AS (
      SELECT lang, doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT lang, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_tokens DESC, doc_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t)
    SELECT lang, COUNT(*) AS n_docs_kept,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
    FROM c WHERE cum_tokens <= 2000
    GROUP BY lang ORDER BY lang"""

  /** Top word-bigrams per language — the distributed n-gram counting at
    * the bottom of every statistical language model / tokenizer-training
    * corpus audit. Bigram extraction is ONE native pass (WordNGrams:
    * zero-copy byte slices; the HOF spelling re-evaluates split() per
    * index — the CollapseProject pitfall), counting is a two-phase hash
    * aggregate with map-side combine (shuffle carries (lang, bigram)
    * partials, not rows), and the per-lang top-3 is a bounded window
    * over |distinct bigrams| with a total-order tiebreak.
    */
  def topBigrams(docs: DataFrame, k: Int = 3): DataFrame = {
    import graft.functions.WordNGrams.word_ngrams
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("bigram").asc)
    docs.select(col("lang"), explode(word_ngrams(col("text"), 2)).as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("lang", "rank", "bigram", "n")
      .orderBy("lang", "rank")
  }

  private val topBigramsOracle = """
    WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT lang, unnest(list_transform(range(1, len(t)),
        i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks WHERE len(t) >= 2),
    counted AS (
      SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY lang, bigram),
    ranked AS (
      SELECT lang, bigram, n, CAST(row_number() OVER (PARTITION BY lang
        ORDER BY n DESC, bigram ASC) AS BIGINT) AS rank
      FROM counted)
    SELECT lang, rank, bigram, n FROM ranked WHERE rank <= 3
    ORDER BY lang, rank"""

  /** Corpus Zipf / frequency-coverage curve: global token counts, rank by
    * frequency, and the cumulative share of the corpus the top-k tokens
    * cover — the standard "how head-heavy is this corpus" curation signal.
    * Scale shape: token counts aggregate with map-side combine; the top-k
    * is a TakeOrderedAndProject (no global sort materialization); the
    * cumulative window then runs over k rows only, so the single-partition
    * window is O(k) regardless of corpus size.
    */
  def zipfCurve(docs: DataFrame, k: Int = 50): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val byFreq = Window.orderBy(col("n").desc, col("tok"))
    counts.orderBy(col("n").desc, col("tok")).limit(k)
      .withColumn("rnk", row_number().over(byFreq).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rnk"), col("tok"), col("n"),
        round(col("cum").cast("double") / col("total").cast("double"), 6)
          .as("cum_share"))
      .orderBy("rnk")
  }

  private val zipfOracle = """
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    t AS (SELECT tok, COUNT(*) AS n FROM toks WHERE tok <> '' GROUP BY tok),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM t),
    r AS (SELECT tok, n,
        CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rnk,
        CAST(SUM(n) OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING)
             AS DOUBLE) AS cum
      FROM t)
    SELECT rnk, tok, n, ROUND(cum / total, 6) AS cum_share
    FROM r, tot WHERE rnk <= 50 ORDER BY rnk"""

  /** Fixed-size token chunking with stride (overlap): every document is
    * cut into 64-token windows starting every 48 tokens — the LLM
    * context-window preprocessing step. Pure per-row explode (narrow, no
    * shuffle): at 100 TB each task chunks its own documents and the output
    * is written straight back out; chunk identity is a 16-hex md5 prefix
    * so downstream exact-dedup can run on chunks. The final chunk is the
    * first one whose window reaches the end of the document (no tail
    * windows fully contained in their predecessor).
    */
  def docChunks(docs: DataFrame, win: Int = 64, stride: Int = 48): DataFrame = {
    val chunk = col("chunk_id")
    docs
      .select(col("doc_id"),
        filter(tokens(col("text")), t => t =!= lit("")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        expr(s"1 + (greatest(n_tok - $win, 0) + ${stride - 1}) div $stride"))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col("doc_id"), chunk,
        (chunk * stride).as("start_tok"),
        size(slice(col("toks"), (chunk * stride + 1).cast("int"), lit(win)))
          .cast("long").as("n_chunk_toks"),
        substring(md5(concat_ws(" ",
            slice(col("toks"), (chunk * stride + 1).cast("int"), lit(win)))
          .cast("binary")), 1, 16).as("chunk_sig"))
      .orderBy("doc_id", "chunk_id")
  }

  private val docChunksOracle = """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
    n AS (SELECT doc_id, toks,
        1 + CAST(floor((greatest(len(toks) - 64, 0) + 47) / 48.0) AS BIGINT)
          AS n_chunks
      FROM d),
    c AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM n)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      CAST(chunk_id * 48 AS BIGINT) AS start_tok,
      CAST(len(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64))
           AS BIGINT) AS n_chunk_toks,
      substr(md5(array_to_string(
        list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ')), 1, 16)
        AS chunk_sig
    FROM c ORDER BY doc_id, chunk_id"""

  /** Data-mixture rebalancing weights: per-language token shares against a
    * uniform target mixture, the up/down-sampling weight that would hit
    * it, and the repetition factor (epochs) an upsampled language needs.
    * One map-side-combined aggregate plus a broadcast of the 1-row grand
    * total — the 100 TB plan is a single pass.
    */
  def mixtureWeights(docs: DataFrame): DataFrame = {
    val perLang = docs
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("lang_tokens"))
    val total = perLang.agg(sum(col("lang_tokens")).as("total_tokens"),
      count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("lang_tokens"),
        round(col("lang_tokens").cast("double")
          / col("total_tokens").cast("double"), 6).as("share"),
        round((col("total_tokens").cast("double") / col("n_langs"))
          / col("lang_tokens"), 6).as("weight"),
        ceil((col("total_tokens").cast("double") / col("n_langs"))
          / col("lang_tokens")).cast("long").as("epochs"))
      .orderBy("lang")
  }

  private val mixtureOracle = """
    WITH d AS (SELECT lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
    per AS (SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS lang_tokens FROM d GROUP BY lang),
    tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
        COUNT(*) AS n_langs FROM per)
    SELECT lang, n_docs, lang_tokens,
      ROUND(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
        AS share,
      ROUND((CAST(total_tokens AS DOUBLE) / n_langs) / lang_tokens, 6)
        AS weight,
      CAST(ceil((CAST(total_tokens AS DOUBLE) / n_langs) / lang_tokens)
           AS BIGINT) AS epochs
    FROM per, tot ORDER BY lang"""

  /** Greedy sequence packing (training sample-packing): documents are
    * packed in doc_id order into bins of a fixed token capacity; a bin
    * closes when the next document would overflow it (an oversized
    * document gets a bin of its own). The fold is inherently sequential
    * WITHIN a language, so it runs as a typed flatMapGroups — one shuffle
    * by lang, then a linear in-memory scan per group. At 100 TB the group
    * key becomes (lang, shard): packing is embarrassingly parallel across
    * shards and nothing about the fold changes. The oracle replays the
    * same fold as a recursive CTE.
    */
  def sequencePacking(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, capacity: Long = 512L): DataFrame = {
    import spark.implicits._
    docs
      .select(col("lang"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (lang, it) =>
        val sorted = it.toArray.sortBy(_._2)
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
        var bin = 0L; var binTok = 0L; var binDocs = 0L
        sorted.foreach { case (_, _, n) =>
          if (binDocs > 0 && binTok + n > capacity) {
            out += ((lang, bin, binDocs, binTok))
            bin += 1; binTok = 0; binDocs = 0
          }
          binTok += n; binDocs += 1
        }
        if (binDocs > 0) out += ((lang, bin, binDocs, binTok))
        out.iterator
      }
      .toDF("lang", "bin_id", "n_docs", "bin_tokens")
      .orderBy("lang", "bin_id")
  }

  private val sequencePackingOracle = """
    WITH RECURSIVE d AS (
      SELECT lang, doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents),
    walk(lang, rn, n_tok, bin_id, bin_tok) AS (
      SELECT lang, rn, n_tok, CAST(0 AS BIGINT), n_tok FROM d WHERE rn = 1
      UNION ALL
      SELECT d.lang, d.rn, d.n_tok,
        CASE WHEN w.bin_tok + d.n_tok > 512 THEN w.bin_id + 1
             ELSE w.bin_id END,
        CASE WHEN w.bin_tok + d.n_tok > 512 THEN d.n_tok
             ELSE w.bin_tok + d.n_tok END
      FROM d JOIN walk w ON d.lang = w.lang AND d.rn = w.rn + 1)
    SELECT lang, bin_id, COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
    FROM walk GROUP BY lang, bin_id ORDER BY lang, bin_id"""

  /** BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query term set —
    * the classical relevance ranker a curation stack uses to mine
    * topic-relevant documents at corpus scale. Every input is an exact
    * integer aggregate (tf, df, doc length, N); the floating score is one
    * deterministic expression per (doc, term), summed per doc through an
    * exact decimal to stay order-independent, then top-k by
    * TakeOrderedAndProject. Plan: one token explode + three shuffle aggs
    * (tf rows exist only for query terms — the scan filter prunes the
    * explosion to |query| terms per doc) and a tiny broadcast of
    * df/corpus stats.
    */
  def bm25TopK(docs: DataFrame,
      queryTerms: Seq[String] = Seq("spark", "table", "query"),
      k: Int = 20): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = tok.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df") + lit(0.5))
          / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("score_t",
        col("idf") * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(dec(col("score_t"), 12)).cast("double"), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  private val bm25Oracle = """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs,
      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
      WHERE term IN ('spark', 'table', 'query') GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
        ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
          * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS score_t
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats)
    SELECT doc_id,
      ROUND(CAST(SUM(CAST(score_t AS DECIMAL(18,12))) AS DOUBLE), 6) AS bm25,
      COUNT(*) AS n_terms
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20"""

  /** Heavy hitters via sketch-then-recount: a Misra-Gries pass (bounded
    * O(k) state per partition, map-side combined, one-row shuffle) yields
    * a candidate superset of every token above the frequency threshold
    * (guaranteed for thresholds > n/(k+1) — see
    * [[graft.functions.MisraGries]]); a second pass recounts ONLY the
    * <= k candidates exactly and keeps those above n/`denom`. Output is
    * exact (= plain GROUP BY + HAVING oracle) while never shuffling the
    * full token multiset — the pattern that still works when the
    * vocabulary itself doesn't fit in memory.
    */
  def heavyHitters(docs: DataFrame, k: Int = 255, denom: Long = 200L): DataFrame = {
    require(denom < k + 1,
      s"threshold n/$denom must exceed the MG guarantee n/${k + 1}")
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
    val mg = udaf(graft.functions.MisraGries.sketch(k))
    val row = toks.agg(mg(col("tok")).as("cands"), count(lit(1)).as("n")).head()
    val cands = row.getSeq[String](0)
    val n = row.getLong(1)
    toks.filter(col("tok").isin(cands: _*))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(col("c") * lit(denom) > lit(n))
      .orderBy(col("c").desc, col("tok"))
  }

  private val heavyHittersOracle = """
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
    SELECT tok, c FROM cnt, tot WHERE c * 200 > n ORDER BY c DESC, tok"""

  /** Distribution drift per source: KL(source ‖ corpus) over the
    * top-200 corpus tokens (deterministic vocabulary: count desc, token
    * asc), both distributions renormalized within that vocabulary.
    * KL terms are p·ln(p/q) doubles from exact integer counts — both
    * engines divide/log identical values — summed with a token-ordered
    * fold (partitioning-independent), final value rounded to 6 decimals.
    * The drift monitor a curation pipeline runs between ingest batches;
    * at 100 TB the vocabulary cap keeps state at `sources × 200` rows
    * regardless of corpus size.
    */
  def tokenDrift(docs: DataFrame, topN: Int = 200): DataFrame = {
    val toks = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
    val corpus = toks.groupBy("tok").agg(count(lit(1)).as("c_corpus"))
    val top = corpus
      .withColumn("r", row_number().over(
        Window.orderBy(col("c_corpus").desc, col("tok").asc)))
      .filter(col("r") <= topN).drop("r")
      .localCheckpoint() // <= topN rows; broadcast probe below
    val totC = top.agg(sum("c_corpus")).collect()(0).getLong(0)
    val src = toks.join(broadcast(top), "tok")
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("c_src"), min(col("c_corpus")).as("c_corpus"))
    val tot = src.groupBy("source").agg(sum("c_src").as("tot_src"))
    val terms = src.join(tot, "source").select(col("source"), col("tok"),
      ((col("c_src").cast("double") / col("tot_src")) *
        log((col("c_src").cast("double") / col("tot_src")) /
          (col("c_corpus").cast("double") / lit(totC.toDouble)))).as("term"))
    terms.groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        round(osum(col("term"), col("tok")), 6).as("kl"))
      .orderBy("source")
  }

  private val tokenDriftOracle = """
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    corpus AS (SELECT tok, COUNT(*) AS c_corpus FROM toks GROUP BY tok),
    top AS (SELECT tok, c_corpus FROM corpus
      ORDER BY c_corpus DESC, tok ASC LIMIT 200),
    totc AS (SELECT CAST(SUM(c_corpus) AS BIGINT) AS tot_c FROM top),
    src AS (SELECT source, t.tok, COUNT(*) AS c_src, MIN(top.c_corpus) AS c_corpus
      FROM toks t JOIN top USING (tok) GROUP BY source, t.tok),
    tot AS (SELECT source, CAST(SUM(c_src) AS BIGINT) AS tot_src
      FROM src GROUP BY source),
    terms AS (
      SELECT source, tok,
        (CAST(c_src AS DOUBLE) / tot_src) *
          ln((CAST(c_src AS DOUBLE) / tot_src) /
             (CAST(c_corpus AS DOUBLE) / CAST(tot_c AS DOUBLE))) AS term
      FROM src JOIN tot USING (source), totc)
    SELECT source, COUNT(*) AS n_terms,
      ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY tok)),
        (a, b) -> a + b), 6) AS kl
    FROM terms GROUP BY source ORDER BY source"""

  /** Sub-document duplication audit: non-overlapping 32-token chunks
    * signed with md5; a chunk is duplicated when its signature appears
    * in more than one distinct document. Per-source duplicated-chunk
    * share — the finer-grained dedup signal that exact doc-level dedup
    * (q25) misses (boilerplate shared across otherwise-distinct docs).
    * Chunking is a narrow explode; the signature rollup shuffles
    * signatures only.
    */
  def chunkDedup(docs: DataFrame, win: Int = 32): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), col("source"),
        filter(tokens(col("text")), t => t =!= lit("")).as("toks"))
      .withColumn("n_chunks",
        expr(s"greatest((size(toks) + ${win - 1}) div $win, 1)").cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * win + 1).cast("int"), lit(win)))
          .cast("binary")).as("sig"))
    val dupSigs = chunks.groupBy("sig")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") > 1)
      .select(col("sig"))
    val dupPer = chunks.join(broadcast(dupSigs), Seq("sig"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup_chunks"))
    chunks.groupBy("source").agg(count(lit(1)).as("n_chunks"))
      .join(dupPer, Seq("source"), "left") // a clean source has no dup row
      .select(col("source"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        (coalesce(col("n_dup_chunks"), lit(0L)).cast("double") / col("n_chunks"))
          .as("dup_share"))
      .orderBy("source")
  }

  private val chunkDedupOracle = """
    WITH d AS (
      SELECT doc_id, source,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
    n AS (SELECT doc_id, source, toks,
        greatest((len(toks) + 31) // 32, 1) AS n_chunks FROM d),
    c AS (SELECT doc_id, source,
        md5(array_to_string(list_slice(toks, chunk_id * 32 + 1,
          chunk_id * 32 + 32), ' ')) AS sig
      FROM (SELECT doc_id, source, toks,
        unnest(range(0, n_chunks)) AS chunk_id FROM n)),
    dup AS (SELECT sig FROM c GROUP BY sig
      HAVING COUNT(DISTINCT doc_id) > 1),
    per AS (SELECT source, COUNT(*) AS n_chunks FROM c GROUP BY source),
    dupper AS (SELECT source, COUNT(*) AS n_dup_chunks FROM c
      WHERE sig IN (SELECT sig FROM dup) GROUP BY source)
    SELECT source, n_chunks, COALESCE(n_dup_chunks, 0) AS n_dup_chunks,
      CAST(COALESCE(n_dup_chunks, 0) AS DOUBLE) / n_chunks AS dup_share
    FROM per LEFT JOIN dupper USING (source) ORDER BY source"""

  /** Unigram log-probability quality score: each document scored by its
    * average per-token ln p(token) under the corpus unigram
    * distribution — the zero-parameter proxy for model-based perplexity
    * filtering. Per-document sums fold in token-position order (exact
    * given identical doubles), per-document averages round to 9
    * decimals, and source-level stats aggregate those exactly in
    * decimal. The vocab join broadcasts; at 100 TB the vocabulary would
    * be capped to top-K + an OOV bucket (q141's discipline).
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"),
        posexplode(filter(tokens(col("text")), t => t =!= lit(""))).as(Seq("pos", "tok")))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val n = toks.count()
    val scored = toks.join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("source"), col("pos"),
        log(col("c").cast("double") / lit(n.toDouble)).as("lp"))
    val perDoc = scored.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tok"),
        osum(col("lp"), col("pos")).as("lp_sum"))
      .select(col("source"),
        round(col("lp_sum") / col("n_tok"), 9).as("avg_lp"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("avg_lp").cast("decimal(18,9)")).cast("double") / count(lit(1)))
          .as("mean_avg_lp"),
        min("avg_lp").as("min_avg_lp"), max("avg_lp").as("max_avg_lp"))
      .orderBy("source")
  }

  private val unigramLogprobOracle = """
    WITH t0 AS (
      SELECT doc_id, source,
        list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    toks AS (
      SELECT doc_id, source, unnest(toks) AS tok,
        generate_subscripts(toks, 1) AS pos
      FROM t0),
    vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM toks),
    scored AS (
      SELECT doc_id, source, pos,
        ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS lp
      FROM toks JOIN vocab USING (tok), n),
    perdoc AS (
      SELECT source,
        ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lp ORDER BY pos)),
          (a, b) -> a + b) / COUNT(*), 9) AS avg_lp
      FROM scored GROUP BY doc_id, source)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CAST(avg_lp AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mean_avg_lp,
      MIN(avg_lp) AS min_avg_lp, MAX(avg_lp) AS max_avg_lp
    FROM perdoc GROUP BY source ORDER BY source"""

  /** One-row dataset card: the corpus summary a curation run publishes —
    * sizes, diversity, exact duplicate share, length moments. Pure
    * composition of exact aggregates in a single pass over documents
    * plus one fingerprint rollup.
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"),
      countDistinct("lang").as("n_langs"),
      countDistinct("source").as("n_sources"),
      sum("n_chars").as("n_chars"))
    val dups = docs.groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_dup_docs"))
    base.crossJoin(dups)
      .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
        col("n_chars"), col("n_dup_docs"),
        (col("n_tokens").cast("double") / col("n_docs")).as("mean_doc_tokens"))
  }

  private val datasetCardOracle = """
    WITH base AS (
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        COUNT(DISTINCT lang) AS n_langs, COUNT(DISTINCT source) AS n_sources,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents),
    dups AS (
      SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_dup_docs FROM (
        SELECT md5(text) AS fp, COUNT(*) AS c FROM documents
        GROUP BY md5(text) HAVING COUNT(*) > 1))
    SELECT n_docs, n_tokens, n_langs, n_sources, n_chars, n_dup_docs,
      CAST(n_tokens AS DOUBLE) / n_docs AS mean_doc_tokens
    FROM base, dups"""

  /** Inverted-index build (token → postings): per token the document
    * frequency, total term frequency, max per-doc tf, and an exact
    * integer postings checksum (Σ doc_id·tf — pins the complete
    * postings multiset, not just its size). One (token, doc) grouped
    * count then one token-keyed aggregation: the index shuffles
    * postings-sized rows exactly once, never the corpus text — the
    * build shape of a search/retrieval index at 100 TB.
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        sum("tf").as("tf_total"),
        max("tf").as("max_tf"),
        sum(col("doc_id") * col("tf")).as("posting_checksum"))
      .orderBy("token")

  private val invertedIndexOracle = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tfs AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
    SELECT token, COUNT(*) AS df,
      CAST(SUM(tf) AS BIGINT) AS tf_total,
      CAST(MAX(tf) AS BIGINT) AS max_tf,
      CAST(SUM(doc_id * tf) AS BIGINT) AS posting_checksum
    FROM tfs GROUP BY token ORDER BY token"""

  /** Readability audit per language (Flesch-style): words/sentence and
    * vowel-group "syllables"/word from three corpus-summable exact
    * integer counts — the document-complexity signal a curation pipeline
    * thresholds next to the q22 quality score. Sentence and syllable
    * counting are regex counts over character classes simple enough that
    * the Java and RE2-family engines agree symbol-for-symbol.
    */
  def readability(docs: DataFrame): DataFrame =
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("words"),
        sum(regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("sentences"),
        sum(regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long")).as("syllables"))
      .select(col("lang"), col("n_docs"), col("words"), col("sentences"),
        col("syllables"),
        round(when(col("sentences") > 0 && col("words") > 0,
          lit(206.835)
            - lit(1.015) * col("words").cast("double") / col("sentences")
            - lit(84.6) * col("syllables").cast("double") / col("words")), 6)
          .as("flesch"))
      .orderBy("lang")

  private val readabilityOracle = """
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words,
      CAST(SUM(len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS sentences,
      CAST(SUM(len(regexp_extract_all(lower(text), '[aeiou]+'))) AS BIGINT) AS syllables,
      ROUND(CASE WHEN SUM(len(regexp_extract_all(text, '[.!?]+'))) > 0
          AND SUM(len(string_split(text, ' '))) > 0 THEN
        206.835
          - 1.015 * CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
            / SUM(len(regexp_extract_all(text, '[.!?]+')))
          - 84.6 * CAST(SUM(len(regexp_extract_all(lower(text), '[aeiou]+'))) AS DOUBLE)
            / SUM(len(string_split(text, ' '))) END, 6) AS flesch
    FROM documents GROUP BY lang ORDER BY lang"""

  /** Vocabulary-growth (Heaps' law) audit: cumulative vocabulary and
    * token mass at ten corpus-fraction checkpoints, with the local
    * Heaps exponent ln(V)/ln(T) at each. Checkpoint boundaries are the
    * interpolated doc-id deciles (identical in both engines); each
    * token's contribution is its FIRST document (one groupBy(token)
    * min), so the corpus-sized phases are one postings shuffle + one
    * vocabulary-sized broadcast-range join — no corpus-wide window
    * anywhere. The audit that says whether more raw data still buys
    * vocabulary, before paying to ingest it.
    */
  def heapsLaw(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val firstDoc = toks.groupBy("tok").agg(min("doc_id").as("first_doc"))
    val perDoc = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    val bounds = docs
      .agg(expr("percentile(doc_id, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0))")
        .as("bs"))
      .select(posexplode(col("bs")).as(Seq("i", "boundary")))
      .select((col("i") + 1).cast("long").as("decile"), col("boundary"))
    val vocab = firstDoc.crossJoin(broadcast(bounds))
      .filter(col("first_doc") <= col("boundary"))
      .groupBy("decile").agg(count(lit(1)).as("vocab"))
    val mass = perDoc.crossJoin(broadcast(bounds))
      .filter(col("doc_id") <= col("boundary"))
      .groupBy("decile").agg(sum("n_tok").as("tokens_cum"),
        count(lit(1)).as("docs_cum"))
    vocab.join(mass, "decile")
      .select(col("decile"), col("docs_cum"), col("tokens_cum"), col("vocab"),
        round(log(col("vocab").cast("double")) / log(col("tokens_cum").cast("double")), 6)
          .as("heaps_beta"))
      .orderBy("decile")
  }

  private val heapsOracle = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    first_doc AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
    per_doc AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    bounds0 AS (
      SELECT quantile_cont(doc_id,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS bs
      FROM documents),
    bounds AS (
      SELECT CAST(i AS BIGINT) AS decile, bs[CAST(i AS INT)] AS boundary
      FROM bounds0, range(1, 11) r(i)),
    vocab AS (
      SELECT decile, COUNT(*) AS vocab
      FROM first_doc, bounds WHERE first_doc <= boundary GROUP BY decile),
    mass AS (
      SELECT decile, CAST(SUM(n_tok) AS BIGINT) AS tokens_cum,
        COUNT(*) AS docs_cum
      FROM per_doc, bounds WHERE doc_id <= boundary GROUP BY decile)
    SELECT decile, docs_cum, tokens_cum, vocab,
      ROUND(ln(CAST(vocab AS DOUBLE)) / ln(CAST(tokens_cum AS DOUBLE)), 6) AS heaps_beta
    FROM vocab JOIN mass USING (decile) ORDER BY decile"""

  /** Hapax-legomenon audit per language: vocabulary size, singleton
    * count and their ratio — the classic corpus-maturity signal (a high
    * hapax share means the corpus is still under-sampling its
    * vocabulary; OCR noise also shows up here first). One postings
    * shuffle to (lang, token) counts, then a lang-sized rollup.
    */
  def hapaxRatio(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("lang")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("hapax"),
        sum("tf").as("tokens"))
      .select(col("lang"), col("vocab"), col("hapax"), col("tokens"),
        round(col("hapax").cast("double") / col("vocab"), 6).as("hapax_ratio"),
        round(col("vocab").cast("double") / col("tokens"), 6).as("ttr"))
      .orderBy("lang")

  private val hapaxOracle = """
    WITH tf AS (
      SELECT lang, tok, COUNT(*) AS tf FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY lang, tok)
    SELECT lang, COUNT(*) AS vocab,
      CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      CAST(SUM(tf) AS BIGINT) AS tokens,
      ROUND(CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS hapax_ratio,
      ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(tf), 6) AS ttr
    FROM tf GROUP BY lang ORDER BY lang"""

  /** Pareto tail fit of document lengths per language: the Hill/MLE
    * exponent α̂ = 1 + n / Σ ln(x / xmin) over docs with n_chars ≥ xmin —
    * the heavy-tail audit that decides whether length-capping a corpus
    * discards meaningful mass (α ≤ 2 means the tail carries unbounded
    * share). One corpus filter + per-lang sums; the ln terms reduce by
    * pinned-order fold over each lang's tail (both engines feed ln
    * identical exact-integer ratios, the q125/q141 discipline).
    */
  def paretoTail(docs: DataFrame, xmin: Long = 200L): DataFrame = {
    val tail = docs.filter(col("n_chars") >= xmin)
      .select(col("lang"), col("doc_id"),
        log(col("n_chars").cast("double") / lit(xmin.toDouble)).as("lnx"))
    val perLang = tail.groupBy("lang")
      .agg(count(lit(1)).as("n_tail"),
        osum(col("lnx"), col("doc_id")).as("slnx"))
    val totals = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    perLang.join(totals, "lang")
      .select(col("lang"), col("n_docs"), col("n_tail"),
        round(col("n_tail").cast("double") / col("n_docs"), 6).as("tail_share"),
        // degenerate tail (every doc exactly at xmin) ⇒ slnx = 0: emit
        // NULL, not an engine-formatted Infinity
        round(when(col("slnx") > 0,
          lit(1.0) + col("n_tail").cast("double") / col("slnx")), 6).as("alpha_hat"))
      .orderBy("lang")
  }

  private val paretoOracle = """
    WITH tail AS (
      SELECT lang, doc_id, ln(CAST(n_chars AS DOUBLE) / 200.0) AS lnx
      FROM documents WHERE n_chars >= 200),
    per_lang AS (
      SELECT lang, COUNT(*) AS n_tail,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(lnx ORDER BY doc_id)), (s, e) -> s + e) AS slnx
      FROM tail GROUP BY lang),
    totals AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang)
    SELECT lang, n_docs, n_tail,
      ROUND(CAST(n_tail AS DOUBLE) / n_docs, 6) AS tail_share,
      ROUND(CASE WHEN slnx > 0 THEN 1.0 + CAST(n_tail AS DOUBLE) / slnx END, 6) AS alpha_hat
    FROM per_lang JOIN totals USING (lang) ORDER BY lang"""

  /** Temperature-scaled sampling weights per language: w_l ∝ p_l^α with
    * α = 0.3 (the standard multilingual-LM upsampling family — α = 1 is
    * proportional, α → 0 uniform; q117 computes the uniform-target
    * special case, this is the dial actually shipped). Token shares are
    * exact integer ratios; pow runs on identical doubles, the normalizer
    * reduces by pinned-order fold over |langs|, and the effective
    * epochs-over-proportional ratio (w/p) is reported per lang.
    */
  def temperatureMixture(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    val perLang = docs
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      .groupBy("lang").agg(sum("n_tok").as("lang_tokens"))
    val tot = perLang.agg(sum("lang_tokens").as("total_tokens"))
    val p = perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("lang_tokens"),
        (col("lang_tokens").cast("double") / col("total_tokens").cast("double")).as("p"))
      .withColumn("pa", pow(col("p"), lit(alpha)))
    val z = p.agg(osum(col("pa"), col("lang")).as("z"))
    p.crossJoin(broadcast(z))
      .select(col("lang"), col("lang_tokens"),
        round(col("p"), 6).as("share"),
        round(col("pa") / col("z"), 6).as("weight"),
        round(col("pa") / col("z") / col("p"), 6).as("upsample_ratio"))
      .orderBy("lang")
  }

  private val temperatureOracle = """
    WITH per_lang AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang),
    tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens FROM per_lang),
    p AS (
      SELECT lang, lang_tokens,
        CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS p,
        pow(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 0.3) AS pa
      FROM per_lang, tot),
    z AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(pa ORDER BY lang)), (s, e) -> s + e) AS z
      FROM p)
    SELECT lang, lang_tokens, ROUND(p, 6) AS share,
      ROUND(pa / z, 6) AS weight,
      ROUND(pa / z / p, 6) AS upsample_ratio
    FROM p, z ORDER BY lang"""

  /** Jensen–Shannon divergence between the token distributions of the
    * first and second corpus halves (doc_id median split) — the
    * symmetric, bounded drift statistic (0 ≤ JSD ≤ ln 2) that complements
    * the one-sided KL (q141) and the binned PSI (q190). Smoothed with
    * add-one over the union vocabulary so both KL terms are total;
    * per-token terms fold in pinned vocab order. One postings shuffle;
    * the vocabulary-sized term table never leaves the token key.
    */
  def jsdDrift(docs: DataFrame): DataFrame = {
    val half = docs.agg(expr("percentile(doc_id, 0.5)").as("mid"))
    val toks = docs.crossJoin(broadcast(half))
      .select((col("doc_id") <= col("mid")).as("first_half"),
        explode(tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok")
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("cb"))
      .localCheckpoint() // vocab-sized; feeds totals + the term fold
    val tots = counts.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("v"))
    val terms = counts.crossJoin(broadcast(tots))
      .select(col("tok"),
        expr("cast(ca + 1 as double) / cast(na + v as double)").as("pa"),
        expr("cast(cb + 1 as double) / cast(nb + v as double)").as("pb"))
      .select(col("tok"),
        expr("0.5 * pa * ln(pa / (0.5 * (pa + pb))) + 0.5 * pb * ln(pb / (0.5 * (pa + pb)))").as("t"))
    terms.agg(osum(col("t"), col("tok")).as("jsd"))
      .crossJoin(broadcast(tots))
      .select(col("v").as("vocab"), col("na").as("tokens_first"),
        col("nb").as("tokens_second"), round(col("jsd"), 6).as("jsd"),
        round(col("jsd") / math.log(2.0), 6).as("jsd_bits"))
  }

  private val jsdOracle = """
    WITH half AS (SELECT quantile_cont(doc_id, 0.5) AS mid FROM documents),
    toks AS (
      SELECT doc_id <= mid AS first_half, unnest(string_split(text, ' ')) AS tok
      FROM documents, half),
    counts AS (
      SELECT tok,
        CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(SUM(CASE WHEN NOT first_half THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM toks GROUP BY tok),
    tots AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
      COUNT(*) AS v FROM counts),
    terms AS (
      SELECT tok,
        0.5 * (CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
          * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
            / (0.5 * ((CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
              + (CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)))))
        + 0.5 * (CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE))
          * ln((CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE))
            / (0.5 * ((CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
              + (CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE))))) AS t
      FROM counts, tots),
    s AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(t ORDER BY tok)), (s2, e) -> s2 + e) AS jsd
      FROM terms)
    SELECT v AS vocab, na AS tokens_first, nb AS tokens_second,
      ROUND(jsd, 6) AS jsd, ROUND(jsd / ln(2.0), 6) AS jsd_bits
    FROM s, tots"""

  /** N-gram novelty curve — the memorization/diversity audit run before
    * adding a new corpus slice to a training mix: for each doc, the
    * fraction of its distinct word 3-grams whose FIRST corpus occurrence
    * (min doc_id over the whole corpus) is that doc, aggregated into 10
    * doc_id-range deciles (pure integer bucket arithmetic — no global
    * window). A saturating curve means later docs add no new phrasing.
    * Shape: one postings-sized groupBy(gram) for first-occurrence, one
    * shuffle join back on the gram key, one groupBy(decile) — never
    * doc×doc. Novelty rates are exact integer ratios.
    */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    import graft.functions.WordNGrams.word_ngrams
    val grams = docs
      .select(col("doc_id"), explode(array_distinct(word_ngrams(col("text"), 3))).as("g"))
    val first = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    val perDoc = grams.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("novel"))
    val rng = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    perDoc.crossJoin(broadcast(rng))
      .withColumn("decile", least(
        expr("(doc_id - lo) * 10 div (hi - lo + 1)"), lit(9L)))
      .groupBy("decile")
      .agg(count(lit(1)).as("docs_with_grams"),
        sum("n_grams").as("grams"), sum("novel").as("novel"))
      .select(col("decile"), col("docs_with_grams"), col("grams"), col("novel"),
        round(col("novel").cast("double") / col("grams").cast("double"), 6)
          .as("novelty_rate"))
      .orderBy("decile")
  }

  private val noveltyOracle = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams0 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, len(t) - 1),
          i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
      FROM toks WHERE len(t) >= 3),
    grams AS (SELECT DISTINCT doc_id, g FROM grams0),
    first AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    per_doc AS (
      SELECT grams.doc_id, COUNT(*) AS n_grams,
        CAST(SUM(CAST(first_doc = grams.doc_id AS BIGINT)) AS BIGINT) AS novel
      FROM grams JOIN first USING (g) GROUP BY grams.doc_id),
    rng AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents)
    SELECT LEAST(((doc_id - lo) * 10) // (hi - lo + 1), 9) AS decile,
      COUNT(*) AS docs_with_grams,
      CAST(SUM(n_grams) AS BIGINT) AS grams,
      CAST(SUM(novel) AS BIGINT) AS novel,
      ROUND(CAST(SUM(novel) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE), 6) AS novelty_rate
    FROM per_doc, rng
    GROUP BY 1 ORDER BY decile"""

  // ---------------------------------------------------------------- q407

  /** Memorization-risk audit: word 8-gram spans that recur across ≥3
    * distinct documents, ranked by document frequency — the spans an
    * LM is most likely to regurgitate verbatim, and the first thing a
    * training-data release review asks for. One native WordNGrams pass
    * (zero-copy byte slices), one grouped shuffle keyed by gram;
    * ordering is total (df, total count, gram text) so top-k is
    * deterministic. Postings-sized throughout — never pairwise.
    */
  def memorizedSpans(docs: DataFrame, top: Int = 15): DataFrame = {
    import graft.functions.WordNGrams.word_ngrams
    docs.select(col("doc_id"), col("source"),
        explode(word_ngrams(col("text"), 8)).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_total"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") >= 3)
      .orderBy(col("n_docs").desc, col("n_total").desc, col("g"))
      .limit(top)
  }

  private def memorizedOracle(top: Int = 15): String = s"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, source,
        unnest(list_transform(range(1, len(t) - 6),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
            || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' '
            || t[i+7])) AS g
      FROM toks WHERE len(t) >= 8)
    SELECT g, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs,
      COUNT(DISTINCT source) AS n_sources
    FROM g GROUP BY g
    HAVING COUNT(DISTINCT doc_id) >= 3
    ORDER BY n_docs DESC, n_total DESC, g LIMIT $top"""

  override def queries: Seq[Q] = Seq(
    Q("q407_memorized_spans",
      (s, d) => memorizedSpans(documents(s, d)), Some(memorizedOracle())),
    Q("q227_ngram_novelty",
      (s, d) => ngramNovelty(documents(s, d)), Some(noveltyOracle)),
    Q("q221_temperature_mixture",
      (s, d) => temperatureMixture(documents(s, d)), Some(temperatureOracle)),
    Q("q222_jsd_drift",
      (s, d) => jsdDrift(documents(s, d)), Some(jsdOracle)),
    Q("q217_pareto_tail",
      (s, d) => paretoTail(documents(s, d)), Some(paretoOracle)),
    Q("q208_readability",
      (s, d) => readability(documents(s, d)), Some(readabilityOracle)),
    Q("q209_heaps_law",
      (s, d) => heapsLaw(documents(s, d)), Some(heapsOracle)),
    Q("q210_hapax_ratio",
      (s, d) => hapaxRatio(documents(s, d)), Some(hapaxOracle)),
    Q("q186_inverted_index",
      (s, d) => invertedIndex(documents(s, d)), Some(invertedIndexOracle)),
    Q("q165_chunk_dedup",
      (s, d) => chunkDedup(documents(s, d)), Some(chunkDedupOracle)),
    Q("q166_unigram_logprob",
      (s, d) => unigramLogprob(documents(s, d)), Some(unigramLogprobOracle)),
    Q("q167_dataset_card",
      (s, d) => datasetCard(documents(s, d)), Some(datasetCardOracle)),
    Q("q141_token_drift",
      (s, d) => tokenDrift(documents(s, d)), Some(tokenDriftOracle)),
    Q("q138_heavy_hitters",
      (s, d) => heavyHitters(documents(s, d)), Some(heavyHittersOracle)),
    Q("q125_bm25_topk",
      (s, d) => bm25TopK(documents(s, d)), Some(bm25Oracle)),
    Q("q116_sequence_packing",
      (s, d) => sequencePacking(s, documents(s, d)), Some(sequencePackingOracle)),
    Q("q112_zipf_curve",
      (s, d) => zipfCurve(documents(s, d)), Some(zipfOracle)),
    Q("q115_doc_chunking",
      (s, d) => docChunks(documents(s, d)), Some(docChunksOracle)),
    Q("q117_mixture_weights",
      (s, d) => mixtureWeights(documents(s, d)), Some(mixtureOracle)),
    Q("q106_token_budget",
      (s, d) => tokenBudgetSample(documents(s, d)), Some(tokenBudgetOracle)),
    Q("q109_top_bigrams",
      (s, d) => topBigrams(documents(s, d)), Some(topBigramsOracle)),
    Q("q61_lang_source_sets",
      (s, d) => langSourceSets(documents(s, d)), Some(langSourceSetsOracle)),
    Q("q67_char_trigrams",
      (s, d) => charTrigrams(documents(s, d)), Some(charTrigramsOracle)),
    Q("q20_token_stats",
      (s, d) => tokenStats(documents(s, d)), Some(tokenStatsOracle)),
    Q("q21_lang_id",
      (s, d) => langId(documents(s, d)), Some(langIdOracle)),
    Q("q22_quality_score",
      (s, d) => qualityScore(documents(s, d)), Some(qualityOracle)),
    Q("q23_token_counts",
      (s, d) => tokenCounts(documents(s, d)), Some(tokenCountsOracle)),
    Q("q24_fingerprints",
      (s, d) => fingerprints(documents(s, d)), Some(fingerprintsOracle)),
    Q("q86_repetition_audit",
      (s, d) => repetitionAudit(documents(s, d)), Some(repetitionOracle)),
    Q("q87_pii_scrub",
      (s, d) => piiScrub(documents(s, d)), Some(piiScrubOracle)),
  )
}
