package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num.osum

/** Deduplication operators for a training-data pipeline (SURVEY.md §2.9):
  * exact (hash groupBy), near-dup via n-gram Jaccard with a shared-shingle
  * candidate join, MinHash + banded LSH, and SimHash.
  *
  * Scale posture: exact dedup is one hash-partitioned aggregation on the
  * 32-char digest (not the full text — tiny shuffle payload). The Jaccard
  * candidate join is quadratic in per-shingle frequency and exists as the
  * small-scale oracle; MinHash LSH is the 100 TB path (shuffle ∝ corpus ×
  * bands, never all-pairs). All hashing is md5-based so the DuckDB oracle
  * reproduces signatures bit-for-bit (Spark's murmur `hash()` is not
  * portable).
  */
object Dedup extends QueryModule {

  private def textMd5: Column = md5(col("text").cast("binary"))

  /** The corpus-with-duplicates fixture: union the corpus with a copy of
    * every 5th document under a shifted id — the testdata has no exact
    * dups, so dedup semantics are exercised on a synthesized superset.
    */
  private def withDups(docs: DataFrame): DataFrame =
    docs.union(
      docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))

  private val withDupsSql = """
      SELECT * FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 5 = 0"""

  /** Exact dedup: keep the lowest doc_id per content hash (row_number over
    * a hash-partitioned window), report per-source kept/removed counts.
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("h").orderBy("doc_id")
    withDups(docs)
      .withColumn("h", textMd5)
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("total_docs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("removed_docs"))
      .orderBy("source")
  }

  private val exactDedupOracle = s"""
    WITH all_docs AS ($withDupsSql),
    r AS (
      SELECT source,
        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM all_docs)
    SELECT source, COUNT(*) AS total_docs,
      CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS removed_docs
    FROM r GROUP BY source ORDER BY source"""

  /** Duplicate-cluster inventory: hash groups with >1 member. */
  def dupClusters(docs: DataFrame): DataFrame =
    withDups(docs)
      .groupBy(textMd5.as("h"))
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("keeper_id"))
      .filter(col("cluster_size") > 1)
      .orderBy("keeper_id")

  private val dupClustersOracle = s"""
    WITH all_docs AS ($withDupsSql)
    SELECT md5(text) AS h, COUNT(*) AS cluster_size, MIN(doc_id) AS keeper_id
    FROM all_docs GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY keeper_id"""

  /** Distinct word-4-gram shingles (the near-dup unit; oracle-side SQL —
    * the engine side computes the same sets natively via
    * graft.functions.{WordShingles, MinHashSig}, pinned bit-exact by
    * NativeExprSpec). 4-grams (vs 3) cut shared-shingle candidate pairs
    * ~24x on this corpus with an identical near-dup pair set at the 0.6
    * threshold — production LLM dedup uses even longer shingles.
    */
  private val shingledSql = """
      SELECT doc_id,
        list_distinct(list_transform(range(1, len(string_split(text,' ')) - 2),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
            || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) AS shs
      FROM documents WHERE len(string_split(text,' ')) >= 4"""

  /** (doc_id, text) of the docs that have at least one 4-word shingle,
    * fanned out for a CPU-heavy per-doc shingle pass. The guard runs on
    * the RAW text: size(split(text, ' ')) >= 4 is exactly the
    * tokens-length gate of both WordShingles(n = 4) and MinHashSig (same
    * limit -1 split semantics), so it drops exactly the docs whose
    * shingle set would be empty. A filter on the shingle function's own
    * output (n_sh > 0, size(sig) > 0) was pushed below the projection
    * with the function SUBSTITUTED into it, so every doc paid the pass
    * twice (guide §4.4 duplicated evaluation). fanout: the pass otherwise
    * runs as ONE task on the one-row-group driver corpus (§2.5).
    */
  private def shingleable(docs: DataFrame): DataFrame =
    graft.Tables.fanout(docs.select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 4))

  /** Exploded shingle postings (doc_id, n_sh, shid): one native
    * shingle-hash pass (WordShingles — ids serve only as join keys, so an
    * injective-in-practice 64-bit hash preserves pair counts),
    * localCheckpointed so every downstream self-join side reads one
    * materialization. The per-doc shingle count rides along on every
    * exploded row (8 bytes) and is recovered with min() in the pair
    * aggregates — at 100 TB a corpus-sized `sizes` table is NOT
    * broadcastable, and this removes the join against it entirely.
    */
  private def shinglePostings(docs: DataFrame): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    // explode_OUTER: a plain explode triggers InferFiltersFromGenerate,
    // which re-derives `size(shs) > 0` and pushes it below the fanout
    // exchange with word_shingles substituted in — re-creating the §4.4
    // duplicate in the single-task pre-exchange stage. The prefilter
    // guarantees ≥1 shingle per row, so outer ≡ inner row-for-row here
    // (no null-shid rows can appear) and the inference rule does not
    // apply to outer generates.
    shingleable(docs)
      .select(col("doc_id"), word_shingles(col("text"), 4).as("shs"))
      .withColumn("n_sh", size(col("shs")).cast("long"))
      .select(col("doc_id"), col("n_sh"), explode_outer(col("shs")).as("shid"))
      .localCheckpoint()
  }

  /** Postings ranked within each doc by (global document frequency,
    * shid): rn = 1 is the doc's globally-rarest shingle. The basis of
    * every prefix filter below — a doc's candidate-generating prefix
    * holds its rarest shingles, so corpus-wide boilerplate ("stop
    * shingles") never generates join fan-out.
    */
  private def dfRanked(sh: DataFrame): DataFrame = {
    val freq = sh.groupBy("shid").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy("df", "shid")
    sh.join(freq, "shid").withColumn("rn", row_number().over(w))
  }

  /** Exact verification: intersection size + both set sizes for each
    * candidate (doc_a, doc_b) pair, via two co-partitioned joins against
    * the postings — candidates are few post-filter, so this is the cheap
    * phase.
    */
  private def verifyPairCounts(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sh.as("y"),
        col("doc_b") === col("y.doc_id") && col("x.shid") === col("y.shid"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"),
        min(col("x.n_sh")).as("n_a"), min(col("y.n_sh")).as("n_b"))

  /** n-gram Jaccard near-dup pairs (exact): |A∩B| / (|A|+|B|-|A∩B|) as an
    * exact integer ratio (deterministic double division).
    *
    * The DEFAULT path is the prefix-filtered join (ppjoinPairs): the
    * naive shingle-keyed self-join this query originally ran costs O(d²)
    * candidate rows for a shingle shared by d documents, and boilerplate
    * shingles make d huge at 100 TB — prefix filtering is the lossless
    * fix (provably no qualifying pair lost), so it is what q27 executes.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.6): DataFrame =
    ppjoinPairs(docs, threshold)

  private val jaccardOracle = s"""
    WITH sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
    sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, common,
      CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.6
    ORDER BY doc_a, doc_b"""

  /** MinHash signatures banded into 4 bands of 3 for LSH; candidate pairs
    * share >= 1 band, estimated Jaccard = matching-signature fraction.
    * This is the scale path: shuffle volume is corpus x 4 band keys,
    * never all-pairs.
    *
    * Hash family: one md5 per shingle split into two 60-bit halves
    * (h1, h2), then the Carter-Wegman family h_j = (h1 + j*h2) mod P —
    * 12 signatures for ONE digest per shingle instead of 12, exactly
    * reproducible in the DuckDB oracle via '0x'-string casts.
    */
  def minhashLsh(docs: DataFrame, minEst: Double = 0.5): DataFrame = {
    // Native signature computation (graft.functions.MinHashSig): one pass
    // per document, md5 hex halves read straight from digest bytes —
    // bit-identical to the SQL/DuckDB formulation of the same family.
    import graft.functions.MinHashSig.minhash_sig
    // The signature table is localCheckpoint()ed: both sides of the band
    // self-join consume it, so signatures are computed ONCE per
    // invocation, not once per join side (sig rows are |docs| × (12
    // longs + id) — ~5 MB at sf1).
    val sigs = shingleable(docs)
      .select(col("doc_id"), minhash_sig(col("text"), 12).as("sig"))
      .localCheckpoint()
    val bands = sigs.select(col("doc_id"), col("sig"),
        explode(expr(
          "transform(sequence(0, 3), b -> struct(b as band_idx, " +
            "concat_ws('_', element_at(sig, 3*b+1), element_at(sig, 3*b+2), " +
            "element_at(sig, 3*b+3)) as band_val))")).as("bd"))
      .select(col("doc_id"), col("sig"),
        col("bd.band_idx").as("band_idx"), col("bd.band_val").as("band_val"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    cand
      .withColumn("n_match", expr(
        "size(filter(sequence(1, 12), j -> element_at(sig_a, j) = element_at(sig_b, j)))")
        .cast("long"))
      .withColumn("est_jaccard", col("n_match").cast("double") / lit(12.0))
      .filter(col("est_jaccard") >= lit(minEst))
      .select("doc_a", "doc_b", "n_match", "est_jaccard")
      .orderBy("doc_a", "doc_b")
  }

  private val minhashOracle = s"""
    WITH sh0 AS ($shingledSql),
    hs0 AS (
      SELECT doc_id,
        list_transform(list_transform(shs, s -> md5(s)), m -> struct_pack(
          h1 := ('0x' || substr(m, 1, 15))::BIGINT % 1000000007,
          h2 := ('0x' || substr(m, 16, 15))::BIGINT % 1000000007)) AS hs
      FROM sh0),
    sigs AS (
      SELECT doc_id,
        list_transform(range(0, 12), j ->
          list_min(list_transform(hs, p -> (p.h1 + j * p.h2) % 1000000007))) AS sig
      FROM hs0),
    bands0 AS (
      SELECT doc_id, sig, unnest(list_transform(range(0, 4), b -> struct_pack(
        band_idx := b,
        band_val := CAST(sig[3*b+1] AS VARCHAR) || '_' || CAST(sig[3*b+2] AS VARCHAR)
          || '_' || CAST(sig[3*b+3] AS VARCHAR)))) AS bd
      FROM sigs),
    bands AS (
      SELECT doc_id, sig, bd.band_idx AS band_idx, bd.band_val AS band_val
      FROM bands0),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
      CAST(len(list_filter(range(1, 13), j -> sig_a[j] = sig_b[j])) AS BIGINT) AS n_match,
      CAST(len(list_filter(range(1, 13), j -> sig_a[j] = sig_b[j])) AS DOUBLE) / 12.0 AS est_jaccard
    FROM cand
    WHERE CAST(len(list_filter(range(1, 13), j -> sig_a[j] = sig_b[j])) AS DOUBLE) / 12.0 >= 0.5
    ORDER BY doc_a, doc_b"""

  /** 16-bit SimHash over distinct tokens: bit j is set when more than half
    * the tokens have the high bit of md5 hex nibble j set. Portable across
    * engines (md5 + substr + strpos only).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      expr("array_distinct(split(text, ' '))").as("t"))
    val bits: Column = (0 until 16).map { j =>
      val pos = expr(
        s"size(filter(t, tok -> instr('89abcdef', substring(md5(cast(tok as binary)), ${j + 1}, 1)) > 0))")
      when(pos * 2 > size(col("t")), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    base.select(col("doc_id"), bits.as("simhash")).orderBy("doc_id")
  }

  private val simhashOracle = {
    val terms = (0 until 16).map { j =>
      s"""CASE WHEN 2 * len(list_filter(t, tok ->
         strpos('89abcdef', substr(md5(tok), ${j + 1}, 1)) > 0)) > len(t)
         THEN ${1L << j} ELSE 0 END"""
    }.mkString(" + ")
    s"""
    WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents)
    SELECT doc_id, CAST($terms AS BIGINT) AS simhash FROM d ORDER BY doc_id"""
  }

  /** Containment near-dup pairs: common / min(|A|,|B|) — the asymmetric
    * overlap measure that catches a document embedded inside a larger one
    * (jaccard dilutes by the union, so sub-document duplication scores
    * low; containment does not). containment >= jaccard always, so this
    * is a superset detector at equal thresholds.
    *
    * Candidate generation is a LOSSLESS prefix-vs-full-index join (the
    * asymmetric cousin of ppjoinPairs' prefix-prefix join): containment
    * >= τ means common >= ⌈τ·min(|x|,|y|)⌉, so for the SMALLER doc s the
    * partner intersects s's (|s| − ⌈τ·|s|⌉ + 1)-prefix under the global
    * (df, shid) order (pigeonhole: the partner misses at most |s|−⌈τ|s|⌉
    * of s's shingles). Every doc's prefix probes the full postings, so
    * each pair is found via its smaller side's prefix — no qualifying
    * pair lost, while corpus-wide stop-shingles sit at the END of the
    * df-order and essentially never enter a prefix: the hot-shingle d²
    * fan-out of a naive shingle self-join cannot occur.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    val sh = shinglePostings(docs)
    val prefix = dfRanked(sh)
      .filter(col("rn") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("doc_id"), col("shid"))
    val cands = prefix.as("a")
      .join(sh.as("b"),
        col("a.shid") === col("b.shid") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    verifyPairCounts(cands, sh)
      .withColumn("containment",
        col("common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= lit(threshold))
      .select(col("doc_a"), col("doc_b"), col("common"), col("containment"))
      .orderBy("doc_a", "doc_b")
  }

  private val containmentOracle = s"""
    WITH sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
    sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, common,
      CAST(common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.7
    ORDER BY doc_a, doc_b"""

  /** The capstone curation pipeline as ONE query: quality gate -> exact
    * dedup (keep lowest id per content hash) -> deterministic 90/10
    * split -> per-(split, lang) doc counts and token budgets. This is
    * the end-to-end shape a training-data build runs nightly; every
    * stage is the scale-correct operator form used by its standalone
    * query (q22/q25/q02), composed. Runs on the duplicated-superset
    * fixture so the dedup stage does real work.
    */
  def curationPipeline(docs: DataFrame): DataFrame = {
    val toks = withDups(docs)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    val quality = toks.filter(col("n_tokens") >= 20)
    val w = Window.partitionBy(textMd5).orderBy("doc_id")
    val deduped = quality.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    deduped
      .withColumn("split",
        when(pmod(col("doc_id") * 37, lit(10)) < 9, "train").otherwise("eval"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("token_budget"))
      .orderBy("split", "lang")
  }

  private val curationOracle = s"""
    WITH all_docs AS ($withDupsSql),
    toks AS (
      SELECT doc_id, text, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM all_docs),
    quality AS (SELECT * FROM toks WHERE n_tokens >= 20),
    deduped AS (
      SELECT * FROM (
        SELECT doc_id, lang, n_tokens,
          row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM quality)
      WHERE rn = 1),
    tagged AS (
      SELECT *, CASE WHEN (doc_id * 37) % 10 < 9 THEN 'train' ELSE 'eval' END AS split
      FROM deduped)
    SELECT split, lang, COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS token_budget
    FROM tagged GROUP BY split, lang ORDER BY split, lang"""

  /** Benchmark decontamination — the training-corpus hygiene pass that
    * flags training documents sharing word-4-grams with a held-out eval
    * set (eval membership here: doc_id % 97 = 0, a stand-in for "rows of
    * the benchmark table"). The shape is the production one: shingle both
    * sides ONCE (native WordShingles pass), key the join by shingle id —
    * shuffle ∝ corpus shingle volume, never |train| × |eval| — and
    * aggregate per training doc: how many distinct eval docs it collides
    * with and how many of its distinct shingles are contaminated. At
    * 100 TB the eval side is tiny, so Catalyst broadcasts it and the
    * train side never shuffles at all.
    */
  def decontamination(docs: DataFrame): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val sh = docs
      .select(col("doc_id"), explode(word_shingles(col("text"), 4)).as("shid"))
    val evalSide = sh.filter(col("doc_id") % 97 === 0)
      .withColumnRenamed("doc_id", "eval_doc_id")
    val trainSide = sh.filter(col("doc_id") % 97 =!= 0)
    trainSide.join(evalSide, "shid")
      .groupBy("doc_id")
      .agg(countDistinct(col("eval_doc_id")).as("n_eval_docs"),
        countDistinct(col("shid")).as("n_shared_shingles"))
      .orderBy("doc_id")
  }

  private val decontaminationOracle = s"""
    WITH sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
    ev AS (SELECT doc_id AS eval_doc_id, sh FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id, COUNT(DISTINCT eval_doc_id) AS n_eval_docs,
      COUNT(DISTINCT tr.sh) AS n_shared_shingles
    FROM tr JOIN ev ON tr.sh = ev.sh
    GROUP BY tr.doc_id ORDER BY tr.doc_id"""

  /** The near-dup fixture for the edit-distance detector: every 10th doc
    * re-enters under a shifted id with its first two characters replaced
    * ('@@' + rest) — same length, edit distance 2 from the original, so
    * the detector has planted positives to find at every SF.
    */
  private def withNearDups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), col("lang")).union(
      docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id") + lit(2000000L),
          concat(lit("@@"), expr("substring(text, 3)")), col("lang")))

  private val withNearDupsSql = """
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, '@@' || substr(text, 3) AS text, lang
      FROM documents WHERE doc_id % 10 = 0"""

  /** Edit-distance (Levenshtein) near-dup pairs — the character-level
    * detector that catches small in-place edits n-gram Jaccard dilutes
    * away. All-pairs Levenshtein is O(|corpus|²·len²) and never runs at
    * scale; the distance runs on fixed 40-char prefixes, so each verified
    * pair costs O(40·maxDist) regardless of document size.
    *
    * Candidate generation is PassJoin-style segment banding (Li, Deng,
    * Feng — VLDB 2011 partition scheme): the 40-char window splits into
    * `maxDist + 1` fixed chunks, and by pigeonhole any pair within
    * distance `maxDist` has at least one chunk of either side untouched
    * by every edit op — appearing verbatim in the other string shifted
    * by the net indels before it, which the multi-match-aware selection
    * bounds to ±min(i, maxDist−i) for chunk i (both windows are equal
    * length, Δ = 0). Each doc therefore emits its 13 exact chunks plus
    * every chunk-length substring at those shifted starts (~85
    * literal-position slices, linear per doc), pairs match on (lang,
    * length-band, chunk-index, fragment), and survivors are verified
    * with the banded DP. Key
    * cardinality grows with corpus vocabulary — unlike the first cut of
    * this operator, which banded on (lang, length div 8) alone: a FIXED
    * number of blocks whose sizes grow with the corpus, i.e. a hidden
    * all-pairs (measured 113× at a 10× scale-up; the segment scheme is
    * the same fix the shingle family got in q27/q68).
    *
    * Docs whose window is shorter than 40 chars (none in the graded
    * corpora — min length is 44) take the legacy banded all-pairs path:
    * length bands below `40 div 8` contain ONLY such docs, so the
    * fallback's quadratic blocks are bounded by the short-doc count, and
    * no long/short pair is ever lost (a band never mixes the two).
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 12): DataFrame = {
    val win = 40
    val nseg = maxDist + 1
    val d = withNearDups(docs)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, win).as("prefix"),
        expr("length(text) div 8").as("bucket"))
    // the corpus arrives as one input split at test scale, and the
    // fragment explode (~280 slices/doc) plus the DP verify run before
    // any shuffle — pin the partitioning or both serialize on one task
    // (the per-row generate/probe work, not the row count, needs the
    // spread; AQE would coalesce a row count this small back to one).
    val probeParts = d.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val dLong  = d.filter(length(col("prefix")) === win)
      .repartition(probeParts, col("doc_id"))
    val dShort = d.filter(length(col("prefix")) < win)

    // fixed chunk grid over the 40-char window: chunk i = [start_i, end_i);
    // shift 0 marks the exact chunk, so ONE fragment table serves both
    // join sides (the exact side is a filter over it) — one scan, one
    // explode, and one exchange that the self-join reuses.
    val bounds = (0 to nseg).map(i => (i * win) / nseg)
    val segs = (0 until nseg).map(i => (i, bounds(i) + 1, bounds(i + 1) - bounds(i)))
    // multi-match-aware substring selection (PassJoin Lemma 3, Li et
    // al. VLDB'11): both compared windows are exactly `win` chars
    // (Δ = 0), so a zero-error segment i can only appear at shifts
    // within ±min(i, τ−i) — a match further out forces more than τ
    // errors split across the prefix and suffix regions. Cuts the
    // fragment explode from ~280 to ~85 slices/doc, losslessly
    // (PassJoinSpec proves parity against the brute-force join).
    val shiftSegList = for {
      (i, p, w) <- segs
      bound = math.min(i, maxDist - i)
      sh <- -bound to bound
      q = p + sh if q >= 1 && q + w - 1 <= win
    } yield (i, q, w, sh)

    // fragment rows stay NARROW (ids + a 3-4 char fragment; no prefixes):
    // the explode multiplies rows by ~280 and the join by the block
    // products, so every carried byte is paid millions of times.
    // Prefixes re-enter per DISTINCT pair via two id-joins against the
    // (corpus-sized, not fragment-sized) dLong.
    val frags = dLong.select(col("doc_id"), col("lang"), col("bucket"),
        explode(array(shiftSegList.map { case (i, p, w, sh) =>
          struct(lit(i).as("i"), lit(sh).as("sh"),
            col("prefix").substr(lit(p), lit(w)).as("frag"))
        }: _*)).as("s"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        col("s.i").as("i"), col("s.sh").as("sh"), col("s.frag").as("frag"))
      .repartition(probeParts, col("lang"), col("bucket"), col("i"), col("frag"))
    val e = frags.filter(col("sh") === 0).drop("sh")
    val s = frags.drop("sh")
      .select(col("doc_id").as("s_doc"), col("lang").as("s_lang"),
        col("bucket").as("s_bucket"), col("i").as("s_i"), col("frag").as("s_frag"))
    // both sides are the SAME exchange (co-partitioned on the join key) —
    // the hash join needs no extra shuffle and, unlike the sort-merge
    // default, no 15M-row string-key sorts
    val candidates = e.hint("SHUFFLE_HASH").join(s,
        col("lang") === col("s_lang") && col("bucket") === col("s_bucket") &&
          col("i") === col("s_i") && col("frag") === col("s_frag") &&
          col("doc_id") =!= col("s_doc"))
      .select(least(col("doc_id"), col("s_doc")).as("doc_a"),
        greatest(col("doc_id"), col("s_doc")).as("doc_b"))
      .distinct() // one verify per candidate pair, not one per shared fragment
    val pa = dLong.select(col("doc_id").as("doc_a"), col("prefix").as("prefix_a"))
    val pb = dLong.select(col("doc_id").as("doc_b"), col("prefix").as("prefix_b"))
    val longPairs = candidates.join(pa, "doc_a").join(pb, "doc_b")
      .withColumn("lev",
        levenshtein(col("prefix_a"), col("prefix_b"), maxDist).cast("long"))
      .filter(col("lev") >= 0 && col("lev") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("lev"))

    // legacy path for sub-window docs: quadratic only within all-short bands
    val shortPairs = dShort.repartition(probeParts, col("doc_id")).as("a")
      .join(dShort.as("b"),
        col("a.lang") === col("b.lang") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("lev",
        levenshtein(col("a.prefix"), col("b.prefix"), maxDist).cast("long"))
      .filter(col("lev") >= 0 && col("lev") <= maxDist)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("lev"))

    longPairs.unionAll(shortPairs).orderBy("doc_a", "doc_b")
  }

  private val editDistanceOracle = s"""
    WITH all_docs AS ($withNearDupsSql),
    d AS (
      SELECT doc_id, lang, substr(text, 1, 40) AS prefix, length(text) // 8 AS bucket
      FROM all_docs)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS lev
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 12
    ORDER BY doc_a, doc_b"""

  /** Min-label propagation to fixpoint over an undirected edge list
    * `(doc_a, doc_b)` → `(doc_id, component_id)` where component_id is
    * the minimum node id in the component. Factored from
    * [[dupComponents]] so the iteration can be spec-driven on synthetic
    * multi-round graphs.
    *
    * Memory lifetime: each round's localCheckpoint table is
    * |pair-participating docs| rows (a small fraction of the corpus);
    * dead rounds' blocks are reclaimed by ContextCleaner once the
    * superseded DataFrame is unreachable (Dataset.unpersist does not
    * apply to checkpoint blocks). A round cap turns a pathological
    * non-converging graph into a loud failure instead of an unbounded
    * loop.
    */
  def connectedComponents(edges0: DataFrame, maxRounds: Int = 50): DataFrame = {
    val edges = edges0.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val adj = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = adj.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after $maxRounds rounds " +
            "(diameter larger than the cap? raise maxRounds)")
      val neighborMin = adj.join(labels, adj("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nmin"))
      val updated = labels.join(neighborMin, labels("node") === neighborMin("src"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      changed = updated.as("u")
        .join(labels.as("l"), col("u.node") === col("l.node"))
        .filter(col("u.label") =!= col("l.label")).count()
      labels = updated
    }
    labels.select(col("node").as("doc_id"), col("label").as("component_id"))
      .orderBy("doc_id")
  }

  /** Connected components over the near-dup pair graph — the completion
    * step that turns pairwise similarity (q27/q28) into duplicate
    * CLUSTERS, via iterative min-label propagation: every node adopts
    * the minimum label among itself and its neighbors until fixpoint.
    * Each iteration is one join + aggregation (shuffle ∝ |edges|), the
    * driver only checks a change COUNT, and `localCheckpoint` truncates
    * the growing lineage per round — the standard Spark iterative-
    * algorithm shape (GraphFrames CC; at extreme diameters the
    * large-star/small-star variant halves the round count, same
    * per-round plan). Converges in O(component diameter) rounds. The
    * oracle computes the same components by recursive transitive
    * closure (tractable at oracle SFs; label propagation IS the
    * at-scale formulation because closure materializes O(n²) pairs per
    * component).
    */
  def dupComponents(docs: DataFrame, threshold: Double = 0.6): DataFrame =
    connectedComponents(jaccardPairs(docs, threshold))

  private val dupComponentsOracle = s"""
    WITH RECURSIVE sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
    sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    good AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.6),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM good
      UNION ALL SELECT doc_b, doc_a FROM good),
    reach(node, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT re.node, e.b FROM reach re JOIN edges e ON re.r = e.a)
    SELECT node AS doc_id, MIN(r) AS component_id
    FROM reach GROUP BY node ORDER BY doc_id"""

  /** Survivorship: pick each near-dup cluster's canonical representative
    * (richest first: max n_chars, ties to the lowest doc_id) plus member
    * stats — the step after clustering that decides which copy a training
    * set keeps. One window over the component id and one aggregate, both
    * on the component table (|pair-participating docs| rows, tiny next to
    * the corpus at any scale).
    */
  def canonicalDocs(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = dupComponents(docs, threshold)
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .localCheckpoint() // feeds the window AND the aggregate below
    val byRichness = Window.partitionBy("component_id")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val canon = members
      .withColumn("rk", row_number().over(byRichness))
      .filter(col("rk") === 1)
      .select(col("component_id"), col("doc_id").as("canonical_doc"),
        col("n_chars").as("canonical_chars"))
    val stats = members.groupBy("component_id")
      .agg(count(lit(1)).as("n_members"), sum(col("n_chars")).as("total_chars"))
    canon.join(stats, "component_id").orderBy("component_id")
  }

  private val canonicalOracle = s"""
    WITH RECURSIVE sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
    sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    good AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.6),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM good
      UNION ALL SELECT doc_b, doc_a FROM good),
    reach(node, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT re.node, e.b FROM reach re JOIN edges e ON re.r = e.a),
    comp AS (SELECT node AS doc_id, MIN(r) AS component_id
      FROM reach GROUP BY node),
    m AS (SELECT comp.doc_id, component_id, n_chars
      FROM comp JOIN documents USING (doc_id)),
    canon AS (
      SELECT component_id, doc_id AS canonical_doc, n_chars AS canonical_chars
      FROM m
      QUALIFY row_number() OVER (PARTITION BY component_id
        ORDER BY n_chars DESC, doc_id) = 1),
    stats AS (SELECT component_id, COUNT(*) AS n_members,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM m GROUP BY component_id)
    SELECT component_id, canonical_doc, canonical_chars, n_members, total_chars
    FROM canon JOIN stats USING (component_id) ORDER BY component_id"""

  /** Sketch-quality audit: MinHash-LSH candidate pairs scored against the
    * exact n-gram Jaccard truth set — precision/recall of the approximate
    * detector, the number a curation team watches when tuning bands×rows.
    * Both legs are the engine's own oracle-checked operators; the audit is
    * a full outer join of two tiny pair sets plus one counting pass.
    */
  def lshQualityAudit(docs: DataFrame): DataFrame = {
    val exact = jaccardPairs(docs).select(col("doc_a"), col("doc_b"))
      .withColumn("e", lit(1))
    val cand = minhashLsh(docs).select(col("doc_a"), col("doc_b"))
      .withColumn("c", lit(1))
    exact.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(col("e")).as("n_exact"),
        count(col("c")).as("n_lsh"),
        count(when(col("e").isNotNull && col("c").isNotNull, 1)).as("tp"),
        count(when(col("e").isNull, 1)).as("fp"),
        count(when(col("c").isNull, 1)).as("fn"))
      .select(col("n_exact"), col("n_lsh"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") / col("n_lsh"), 6).as("precision"),
        round(col("tp").cast("double") / col("n_exact"), 6).as("recall"))
  }

  private val lshQualityOracle = s"""
    WITH sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
    sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.6),
    hs0 AS (
      SELECT doc_id,
        list_transform(list_transform(shs, s -> md5(s)), m -> struct_pack(
          h1 := ('0x' || substr(m, 1, 15))::BIGINT % 1000000007,
          h2 := ('0x' || substr(m, 16, 15))::BIGINT % 1000000007)) AS hs
      FROM sh0),
    sigs AS (
      SELECT doc_id,
        list_transform(range(0, 12), j ->
          list_min(list_transform(hs, p -> (p.h1 + j * p.h2) % 1000000007))) AS sig
      FROM hs0),
    bands0 AS (
      SELECT doc_id, sig, unnest(list_transform(range(0, 4), b -> struct_pack(
        band_idx := b,
        band_val := CAST(sig[3*b+1] AS VARCHAR) || '_' || CAST(sig[3*b+2] AS VARCHAR)
          || '_' || CAST(sig[3*b+3] AS VARCHAR)))) AS bd
      FROM sigs),
    bands AS (
      SELECT doc_id, sig, bd.band_idx AS band_idx, bd.band_val AS band_val
      FROM bands0),
    cand0 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id),
    lsh AS (
      SELECT doc_a, doc_b FROM cand0
      WHERE CAST(len(list_filter(range(1, 13), j -> sig_a[j] = sig_b[j]))
            AS DOUBLE) / 12.0 >= 0.5),
    j AS (
      SELECT e.doc_a AS ea, c.doc_a AS ca
      FROM exact e FULL OUTER JOIN lsh c
        ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
    SELECT
      CAST(COUNT(ea) AS BIGINT) AS n_exact,
      CAST(COUNT(ca) AS BIGINT) AS n_lsh,
      CAST(COUNT(CASE WHEN ea IS NOT NULL AND ca IS NOT NULL THEN 1 END) AS BIGINT) AS tp,
      CAST(COUNT(CASE WHEN ea IS NULL THEN 1 END) AS BIGINT) AS fp,
      CAST(COUNT(CASE WHEN ca IS NULL THEN 1 END) AS BIGINT) AS fn,
      ROUND(CAST(COUNT(CASE WHEN ea IS NOT NULL AND ca IS NOT NULL THEN 1 END) AS DOUBLE)
        / COUNT(ca), 6) AS precision,
      ROUND(CAST(COUNT(CASE WHEN ea IS NOT NULL AND ca IS NOT NULL THEN 1 END) AS DOUBLE)
        / COUNT(ea), 6) AS recall
    FROM j"""

  /** Prefix-filtered set-similarity join (PPJoin-lite): the scale path
    * for exact Jaccard near-dup that the shared-shingle join (q27)
    * cannot sustain — a shingle shared by d documents costs O(d²)
    * candidate rows there, and boilerplate shingles make d huge at
    * 100 TB. Prefix filtering instead joins documents ONLY on their
    * rarest π = |s| − ⌈τ·|s|⌉ + 1 shingles under a global
    * (document-frequency, id) order: J(x,y) ≥ τ ⟹ |x∩y| ≥ ⌈τ·max(|x|,|y|)⌉
    * ⟹ the π-prefixes intersect, so the candidate set provably loses no
    * qualifying pair while high-frequency shingles never generate join
    * fan-out. Candidates then verify with an exact intersection count.
    * Output ≡ q27 at the same threshold (same oracle — plan, not
    * semantics, is the difference, like q162 vs q110).
    */
  /** Candidate stage of ppjoinPairs, exposed for the scale-bound spec:
    * the prefix-prefix join's DISTINCT candidate pairs. A hot shingle
    * must not inflate this — that is the whole point of the prefix
    * filter.
    */
  private[text] def ppjoinCandidates(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = shinglePostings(docs)
    val prefix = dfRanked(sh)
      .filter(col("rn") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("doc_id"), col("shid"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.shid") === col("b.shid") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def ppjoinPairs(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    val sh = shinglePostings(docs) // df-rank, prefix join and verify all read this
    val prefix = dfRanked(sh)
      .filter(col("rn") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("doc_id"), col("shid"))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shid") === col("b.shid") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairCounts(cands, sh)
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= lit(threshold))
      .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Record linkage (entity resolution) over the customer dimension via
    * sorted-neighborhood blocking (Hernández-Stolfo): within each
    * (nation, segment) block, records are sorted by a key and each
    * record is compared only to its `windowSize` successors; two passes
    * (name, reversed name) union their candidates so a discrepancy near
    * either end of the name still lands inside some window. Candidates
    * are scored by normalized edit similarity of names plus an
    * account-balance band; per-block audit rows report candidate/match
    * counts, best score, and an exact id-sum checksum of matches. The
    * first cut of this operator compared ALL in-block pairs — block
    * sizes grow with the corpus, so that is a hidden all-pairs
    * (measured 20× runtime at a 10× scale-up); sorted-neighborhood
    * caps candidates at 2·W per record, the standard linear-at-scale
    * linkage shape (multi-pass recall is heuristic by design and
    * documented — a typo in the middle of a name can escape both sort
    * orders). The neighbor join is an equi-join on (block, rank) —
    * rank windows shuffle once per pass, candidate ROWS never leave
    * the block stage, only audit counts do.
    */
  def recordLinkage(customer: DataFrame, threshold: Double = 0.85,
      windowSize: Int = 10): DataFrame = {
    val side = customer.select(col("c_custkey"), col("c_name"),
      col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
      col("c_acctbal")).localCheckpoint()
    val offsets = (1 to windowSize).toArray
    // one pass = rank within block by `key`, then pair each record with
    // its `windowSize` successors via an equi-join on (block, rank)
    def candidates(key: Column): DataFrame = {
      val w = Window.partitionBy("nation", "segment").orderBy(key, col("c_custkey"))
      val ranked = side.withColumn("rn", row_number().over(w))
        .select(col("nation"), col("segment"), col("c_custkey"), col("rn"))
      val probe = ranked
        .withColumn("off", explode(lit(offsets)))
        .select(col("nation"), col("segment"), col("c_custkey").as("id_p"),
          (col("rn") + col("off")).as("rn"))
      probe.join(ranked.withColumnRenamed("c_custkey", "id_q"),
          Seq("nation", "segment", "rn"))
        .select(col("nation"), col("segment"),
          least(col("id_p"), col("id_q")).as("id_a"),
          greatest(col("id_p"), col("id_q")).as("id_b"))
    }
    val cand = candidates(col("c_name"))
      .unionAll(candidates(reverse(col("c_name"))))
      .distinct()
    val a = side.select(col("c_custkey").as("id_a"), col("c_name").as("name_a"),
      col("c_acctbal").as("bal_a"))
    val b = side.select(col("c_custkey").as("id_b"), col("c_name").as("name_b"),
      col("c_acctbal").as("bal_b"))
    val scored = cand.join(a, "id_a").join(b, "id_b")
      .withColumn("score", round(
        lit(0.8) * (lit(1.0) - levenshtein(col("name_a"), col("name_b")).cast("double") /
          greatest(length(col("name_a")), length(col("name_b"))).cast("double")) +
        lit(0.2) * (abs(round(col("bal_a") * 100) - round(col("bal_b") * 100)) <
          lit(10000L)).cast("double"), 6))
    val agg = scored.groupBy("nation", "segment")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("score") >= threshold, 1L).otherwise(0L)).as("n_matches"),
        round(max(col("score")), 6).as("best_score"),
        sum(when(col("score") >= threshold, col("id_a") + col("id_b"))
          .otherwise(0L)).as("match_checksum"))
    side.select("nation", "segment").distinct()
      .join(agg, Seq("nation", "segment"), "left")
      .select(col("nation"), col("segment"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_score"),
        coalesce(col("match_checksum"), lit(0L)).as("match_checksum"))
      .orderBy("nation", "segment")
  }

  private val recordLinkageOracle = """
    WITH side AS (
      SELECT c_custkey, c_name, c_nationkey AS nation, c_mktsegment AS segment,
        c_acctbal
      FROM customer),
    r1 AS (
      SELECT *, row_number() OVER (PARTITION BY nation, segment
        ORDER BY c_name, c_custkey) AS rn FROM side),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY nation, segment
        ORDER BY reverse(c_name), c_custkey) AS rn FROM side),
    cand AS (
      SELECT DISTINCT nation, segment, id_a, id_b FROM (
        SELECT a.nation, a.segment,
          LEAST(a.c_custkey, b.c_custkey) AS id_a,
          GREATEST(a.c_custkey, b.c_custkey) AS id_b
        FROM r1 a JOIN r1 b
          ON a.nation = b.nation AND a.segment = b.segment
          AND b.rn BETWEEN a.rn + 1 AND a.rn + 10
        UNION ALL
        SELECT a.nation, a.segment,
          LEAST(a.c_custkey, b.c_custkey) AS id_a,
          GREATEST(a.c_custkey, b.c_custkey) AS id_b
        FROM r2 a JOIN r2 b
          ON a.nation = b.nation AND a.segment = b.segment
          AND b.rn BETWEEN a.rn + 1 AND a.rn + 10)),
    scored AS (
      SELECT c.nation, c.segment, c.id_a, c.id_b,
        ROUND(0.8 * (1.0 - CAST(levenshtein(x.c_name, y.c_name) AS DOUBLE) /
            CAST(GREATEST(length(x.c_name), length(y.c_name)) AS DOUBLE))
          + 0.2 * CAST(ABS(ROUND(x.c_acctbal * 100, 0) - ROUND(y.c_acctbal * 100, 0)) < 10000
              AS DOUBLE), 6) AS score
      FROM cand c
      JOIN side x ON c.id_a = x.c_custkey
      JOIN side y ON c.id_b = y.c_custkey),
    agg AS (
      SELECT nation, segment, COUNT(*) AS n_candidates,
        CAST(SUM(CASE WHEN score >= 0.85 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
        ROUND(MAX(score), 6) AS best_score,
        CAST(SUM(CASE WHEN score >= 0.85 THEN id_a + id_b ELSE 0 END) AS BIGINT) AS match_checksum
      FROM scored GROUP BY 1, 2),
    blocks AS (SELECT DISTINCT nation, segment FROM side)
    SELECT b.nation, b.segment,
      COALESCE(n_candidates, 0) AS n_candidates,
      COALESCE(n_matches, 0) AS n_matches,
      best_score,
      COALESCE(match_checksum, 0) AS match_checksum
    FROM blocks b LEFT JOIN agg USING (nation, segment)
    ORDER BY nation, segment"""

  /** Incremental (snapshot-vs-batch) dedup admission: the nightly-ingest
    * shape where an incoming batch is admitted against an existing
    * corpus — a doc is admitted iff its content fingerprint is neither
    * already in the base snapshot NOR claimed by an earlier doc of the
    * same batch. Base membership is a fingerprint ANTI-JOIN (at 100 TB
    * the base side is a bucketed fingerprint index, not the corpus);
    * within-batch survivorship is a fingerprint-partitioned window.
    * Only per-language admission counts leave the fingerprint shuffle.
    * Split rule (doc_id mod 10 >= 8 = incoming) mirrors the q02 audit's
    * deterministic split family.
    */
  def snapshotDedup(docs: DataFrame): DataFrame = {
    val fp = docs.withColumn("h", textMd5)
    val base = fp.filter(pmod(col("doc_id"), lit(10)) < 8)
    val inc = fp.filter(pmod(col("doc_id"), lit(10)) >= 8)
    val w = Window.partitionBy("h").orderBy("doc_id")
    val marked = inc
      .join(base.select(col("h").as("bh")).distinct(),
        col("h") === col("bh"), "left_outer")
      .withColumn("in_base", col("bh").isNotNull)
      .withColumn("rn", row_number().over(w))
    marked.groupBy("lang")
      .agg(count(lit(1)).as("n_incoming"),
        sum(when(col("in_base"), 1L).otherwise(0L)).as("dup_vs_base"),
        sum(when(!col("in_base") && col("rn") > 1, 1L).otherwise(0L))
          .as("dup_in_batch"),
        sum(when(!col("in_base") && col("rn") === 1, 1L).otherwise(0L))
          .as("admitted"),
        sum(when(!col("in_base") && col("rn") === 1, col("doc_id"))
          .otherwise(0L)).as("admit_checksum"))
      .orderBy("lang")
  }

  private val snapshotDedupOracle = """
    WITH fp AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
    base AS (SELECT DISTINCT h FROM fp WHERE doc_id % 10 < 8),
    inc AS (
      SELECT doc_id, lang, h,
        row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM fp WHERE doc_id % 10 >= 8),
    marked AS (
      SELECT inc.*, base.h IS NOT NULL AS in_base
      FROM inc LEFT OUTER JOIN base ON inc.h = base.h)
    SELECT lang, COUNT(*) AS n_incoming,
      CAST(SUM(CASE WHEN in_base THEN 1 ELSE 0 END) AS BIGINT) AS dup_vs_base,
      CAST(SUM(CASE WHEN NOT in_base AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_in_batch,
      CAST(SUM(CASE WHEN NOT in_base AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS admitted,
      CAST(SUM(CASE WHEN NOT in_base AND rn = 1 THEN doc_id ELSE 0 END) AS BIGINT) AS admit_checksum
    FROM marked GROUP BY lang ORDER BY lang"""

  /** Near-dedup threshold sensitivity sweep: pair yield, affected-doc
    * count and mean similarity at τ ∈ {0.5, 0.6, 0.7, 0.8} from ONE
    * candidate pass — the tuning audit run before committing a dedup
    * threshold corpus-wide (re-running the pair join per τ would scan
    * the corpus four times; verified pairs at the loosest τ are a
    * superset of every tighter τ's, so one scaffold pass serves all).
    * Candidate generation is the lossless prefix filter at τ = 0.5.
    */
  def thresholdSweep(docs: DataFrame): DataFrame = {
    val pairs = ppjoinPairs(docs, 0.5)
      .localCheckpoint() // one pair pass feeds all four thresholds
    val taus = Seq(0.5, 0.6, 0.7, 0.8)
    taus.map { t =>
      val p = pairs.filter(col("jaccard") >= lit(t)).localCheckpoint()
      val docsIn = p.select(col("doc_a").as("d"))
        .union(p.select(col("doc_b").as("d"))).distinct()
        .agg(count(lit(1)).as("n_docs"))
      p.agg(count(lit(1)).as("n_pairs"),
          coalesce(round(osum(col("jaccard"), col("doc_a"), col("doc_b"))
            / count(lit(1)), 6), lit(0.0)).as("avg_jaccard"))
        .crossJoin(docsIn)
        .select(lit(t).as("threshold"), col("n_pairs"), col("n_docs"),
          col("avg_jaccard"))
    }.reduce(_.unionAll(_)).orderBy("threshold")
  }

  private val thresholdSweepOracle = s"""
    WITH sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS s FROM sh0),
    sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT doc_a, doc_b,
        CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5),
    taus AS (SELECT unnest([0.5, 0.6, 0.7, 0.8]) AS threshold),
    per AS (
      SELECT threshold,
        COUNT(jaccard) AS n_pairs,
        COALESCE(ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(jaccard ORDER BY doc_a, doc_b)), (s, e) -> s + e)
          / COUNT(jaccard), 6), 0.0) AS avg_jaccard
      FROM taus LEFT JOIN j ON jaccard >= threshold GROUP BY threshold),
    docs_in AS (
      SELECT threshold, COUNT(DISTINCT d) AS n_docs
      FROM taus LEFT JOIN (
        SELECT doc_a AS d, jaccard FROM j
        UNION ALL SELECT doc_b, jaccard FROM j) u ON jaccard >= threshold
      GROUP BY threshold)
    SELECT threshold, CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
      CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs, avg_jaccard
    FROM per JOIN docs_in USING (threshold) ORDER BY threshold"""

  /** Cross-language contamination audit: content fingerprints appearing
    * under more than one language tag — the translate-/mislabel-
    * contamination check a multilingual corpus runs before computing
    * language mixture weights (a doc counted in two languages corrupts
    * both buckets). Runs on a deterministic contamination fixture (every
    * 7th doc re-enters with a rewritten lang tag, the relabeled-copy
    * shape); classes group by their sorted language signature so the
    * output is signature-sized, never corpus-sized.
    */
  def crossLangContamination(docs: DataFrame): DataFrame = {
    val fixture = docs.union(
      docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(2000000L))
        .withColumn("lang", concat(lit("xx-"), col("lang"))))
    val classes = fixture.withColumn("h", textMd5)
      .groupBy("h")
      .agg(countDistinct("lang").as("n_langs"), count(lit(1)).as("n_copies"),
        min("doc_id").as("class_id"),
        concat_ws(",", array_sort(collect_set(col("lang")))).as("langs_sig"))
      .filter(col("n_langs") > 1)
    classes.groupBy("langs_sig")
      .agg(count(lit(1)).as("n_classes"), sum("n_copies").as("n_docs"),
        sum("class_id").as("class_checksum"))
      .orderBy("langs_sig")
  }

  private val crossLangOracle = """
    WITH fixture AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text, 'xx-' || lang
      FROM documents WHERE doc_id % 7 = 0),
    classes AS (
      SELECT md5(text) AS h, COUNT(DISTINCT lang) AS n_langs,
        COUNT(*) AS n_copies, MIN(doc_id) AS class_id,
        string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs_sig
      FROM fixture GROUP BY md5(text)
      HAVING COUNT(DISTINCT lang) > 1)
    SELECT langs_sig, COUNT(*) AS n_classes,
      CAST(SUM(n_copies) AS BIGINT) AS n_docs,
      CAST(SUM(class_id) AS BIGINT) AS class_checksum
    FROM classes GROUP BY langs_sig ORDER BY langs_sig"""

  /** MinHash estimator calibration: full-outer join of the exact Jaccard
    * pairs (τ = 0.5) against the banded-LSH candidate estimates at the
    * same threshold, reporting the match/miss/spurious partition AND the
    * estimator's error moments (MAE, signed bias, worst case) over the
    * matched pairs — q127 audits the CANDIDATE SET (precision/recall);
    * this audits the ESTIMATE VALUES, the number that decides where to
    * put the production threshold. Error folds are pinned-order over the
    * matched pairs; everything else is exact counts.
    */
  def lshCalibration(docs: DataFrame): DataFrame = {
    val exact = jaccardPairs(docs, 0.5).select(col("doc_a"), col("doc_b"), col("jaccard"))
    val est = minhashLsh(docs, 0.5).select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val j = exact.join(est, Seq("doc_a", "doc_b"), "full_outer").localCheckpoint()
    val counts = j.agg(
      count(col("jaccard")).as("n_exact"),
      count(col("est_jaccard")).as("n_lsh"),
      sum(when(col("jaccard").isNotNull && col("est_jaccard").isNotNull, 1L)
        .otherwise(0L)).as("n_matched"),
      sum(when(col("jaccard").isNotNull && col("est_jaccard").isNull, 1L)
        .otherwise(0L)).as("n_missed"),
      sum(when(col("jaccard").isNull && col("est_jaccard").isNotNull, 1L)
        .otherwise(0L)).as("n_spurious"))
    val m = j.filter(col("jaccard").isNotNull && col("est_jaccard").isNotNull)
      .select(col("doc_a"), col("doc_b"),
        (col("est_jaccard") - col("jaccard")).as("err"))
    val moments = m.agg(
      round(osum(abs(col("err")), col("doc_a"), col("doc_b")) / count(lit(1)), 6)
        .as("mae"),
      round(osum(col("err"), col("doc_a"), col("doc_b")) / count(lit(1)), 6)
        .as("bias"),
      round(max(abs(col("err"))), 6).as("max_abs_err"))
    counts.crossJoin(moments)
  }

  private val lshCalibrationOracle = s"""
    WITH sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS s FROM sh0),
    sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS (
      SELECT doc_a, doc_b,
        CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5),
    hs0 AS (
      SELECT doc_id,
        list_transform(list_transform(shs, s -> md5(s)), m -> struct_pack(
          h1 := ('0x' || substr(m, 1, 15))::BIGINT % 1000000007,
          h2 := ('0x' || substr(m, 16, 15))::BIGINT % 1000000007)) AS hs
      FROM sh0),
    sigs AS (
      SELECT doc_id,
        list_transform(range(0, 12), j ->
          list_min(list_transform(hs, p -> (p.h1 + j * p.h2) % 1000000007))) AS sig
      FROM hs0),
    bands0 AS (
      SELECT doc_id, sig, unnest(list_transform(range(0, 4), b -> struct_pack(
        band_idx := b,
        band_val := CAST(sig[3*b+1] AS VARCHAR) || '_' || CAST(sig[3*b+2] AS VARCHAR)
          || '_' || CAST(sig[3*b+3] AS VARCHAR)))) AS bd
      FROM sigs),
    bands AS (
      SELECT doc_id, sig, bd.band_idx AS band_idx, bd.band_val AS band_val
      FROM bands0),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id),
    est AS (
      SELECT doc_a, doc_b,
        CAST(len(list_filter(range(1, 13), j -> sig_a[j] = sig_b[j])) AS DOUBLE) / 12.0 AS est_jaccard
      FROM cand
      WHERE CAST(len(list_filter(range(1, 13), j -> sig_a[j] = sig_b[j])) AS DOUBLE) / 12.0 >= 0.5),
    j AS (
      SELECT COALESCE(exact.doc_a, est.doc_a) AS doc_a,
        COALESCE(exact.doc_b, est.doc_b) AS doc_b, jaccard, est_jaccard
      FROM exact FULL OUTER JOIN est
        ON exact.doc_a = est.doc_a AND exact.doc_b = est.doc_b),
    counts AS (
      SELECT COUNT(jaccard) AS n_exact, COUNT(est_jaccard) AS n_lsh,
        CAST(SUM(CASE WHEN jaccard IS NOT NULL AND est_jaccard IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        CAST(SUM(CASE WHEN jaccard IS NOT NULL AND est_jaccard IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
        CAST(SUM(CASE WHEN jaccard IS NULL AND est_jaccard IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_spurious
      FROM j),
    m AS (
      SELECT doc_a, doc_b, est_jaccard - jaccard AS err FROM j
      WHERE jaccard IS NOT NULL AND est_jaccard IS NOT NULL),
    moments AS (
      SELECT
        ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(ABS(err) ORDER BY doc_a, doc_b)), (s, e) -> s + e) / COUNT(*), 6) AS mae,
        ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(err ORDER BY doc_a, doc_b)), (s, e) -> s + e) / COUNT(*), 6) AS bias,
        ROUND(MAX(ABS(err)), 6) AS max_abs_err
      FROM m)
    SELECT * FROM counts, moments"""

  /** Cross-source near-dup leakage matrix: the verified Jaccard pairs
    * (τ = 0.6, prefix-filtered path) attributed to their source pair —
    * within-source counts measure internal redundancy, cross-source
    * counts measure leakage/mirroring between providers (the audit that
    * decides which feed to drop before paying to dedup it). Pair table
    * is tiny post-threshold; the two doc→source attribute joins shuffle
    * on doc ids. Mean similarity folds in pinned pair order.
    */
  def crossSourceDups(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    val pairs = jaccardPairs(docs, threshold)
    val s = docs.select(col("doc_id"), col("source"))
    pairs
      .join(s.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(s.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(least(col("sa.source"), col("sb.source")).as("source_x"),
        greatest(col("sa.source"), col("sb.source")).as("source_y"),
        col("doc_a"), col("doc_b"), col("jaccard"))
      .groupBy("source_x", "source_y")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("source_x") === col("source_y"), 1L).otherwise(0L))
          .as("n_within"),
        round(osum(col("jaccard"), col("doc_a"), col("doc_b")) / count(lit(1)), 6)
          .as("avg_jaccard"),
        sum(col("doc_a") + col("doc_b")).as("pair_checksum"))
      .orderBy("source_x", "source_y")
  }

  private val crossSourceOracle = s"""
    WITH sh0 AS ($shingledSql),
    sh AS (SELECT doc_id, unnest(shs) AS s FROM sh0),
    sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT doc_a, doc_b,
        CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.6),
    attr AS (
      SELECT LEAST(da.source, db.source) AS source_x,
        GREATEST(da.source, db.source) AS source_y,
        doc_a, doc_b, jaccard
      FROM j
      JOIN documents da ON doc_a = da.doc_id
      JOIN documents db ON doc_b = db.doc_id)
    SELECT source_x, source_y, COUNT(*) AS n_pairs,
      CAST(SUM(CASE WHEN source_x = source_y THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
      ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(jaccard ORDER BY doc_a, doc_b)), (s2, e) -> s2 + e) / COUNT(*), 6) AS avg_jaccard,
      CAST(SUM(doc_a + doc_b) AS BIGINT) AS pair_checksum
    FROM attr GROUP BY source_x, source_y ORDER BY source_x, source_y"""

  // ---------------------------------------------------------------- q405

  /** Cross-source contamination matrix at shingle granularity: the
    * distinct 4-word shingle sets of every source pair, compared by
    * exact Jaccard and containment ppm — q257's vocabulary overlap
    * upgraded to the dedup-grade unit (a shared shingle is shared
    * PHRASING, not shared vocabulary). The corpus collapses to
    * distinct (source, shingle) postings in one pass; the pair join is
    * postings-sized and the output is bounded by sources², never by
    * corpus size. Shingle ids are the native WordShingles 64-bit hash
    * (join keys only — the oracle joins raw strings, counts match
    * under the documented injective-in-practice assumption).
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val sh = docs
      .select(col("source"), explode(word_shingles(col("text"), 4)).as("shid"))
      .distinct()
      .localCheckpoint() // three readers: counts + both join sides
    val ns = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sh.as("x").join(sh.as("y"),
        col("x.shid") === col("y.shid") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(ns.select(col("source").as("src_a"), col("n").as("n_a"))),
        "src_a")
      .join(broadcast(ns.select(col("source").as("src_b"), col("n").as("n_b"))),
        "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("inter"),
        expr("inter * 1000000 DIV (n_a + n_b - inter)").as("jaccard_ppm"),
        expr("inter * 1000000 DIV least(n_a, n_b)").as("containment_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("src_a"), col("src_b"))
  }

  private val sourceOverlapOracle = """
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT source, sh FROM (
        SELECT source,
          unnest(list_distinct(list_transform(range(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])))
            AS sh
        FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 4)),
    ns AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS inter
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.source < y.source
      GROUP BY 1, 2)
    SELECT src_a, src_b, a.n AS n_a, b.n AS n_b, inter,
      inter * 1000000 // (a.n + b.n - inter) AS jaccard_ppm,
      inter * 1000000 // least(a.n, b.n) AS containment_ppm
    FROM pairs
    JOIN ns a ON a.source = src_a
    JOIN ns b ON b.source = src_b
    ORDER BY jaccard_ppm DESC, src_a, src_b"""

  override def queries: Seq[Q] = Seq(
    Q("q405_source_overlap",
      (s, d) => sourceOverlap(documents(s, d)), Some(sourceOverlapOracle)),
    Q("q223_cross_source_dups",
      (s, d) => crossSourceDups(documents(s, d)), Some(crossSourceOracle)),
    Q("q220_lsh_calibration",
      (s, d) => lshCalibration(documents(s, d)), Some(lshCalibrationOracle)),
    Q("q215_threshold_sweep",
      (s, d) => thresholdSweep(documents(s, d)), Some(thresholdSweepOracle)),
    Q("q216_crosslang_contamination",
      (s, d) => crossLangContamination(documents(s, d)), Some(crossLangOracle)),
    Q("q214_snapshot_dedup",
      (s, d) => snapshotDedup(documents(s, d)), Some(snapshotDedupOracle)),
    Q("q192_record_linkage",
      (s, d) => recordLinkage(customer(s, d)), Some(recordLinkageOracle)),
    Q("q178_ppjoin_pairs",
      (s, d) => ppjoinPairs(documents(s, d)), Some(jaccardOracle)),
    Q("q126_canonical_docs",
      (s, d) => canonicalDocs(documents(s, d)), Some(canonicalOracle)),
    Q("q127_lsh_quality",
      (s, d) => lshQualityAudit(documents(s, d)), Some(lshQualityOracle)),
    Q("q25_exact_dedup",
      (s, d) => exactDedup(documents(s, d)), Some(exactDedupOracle)),
    Q("q96_dup_components",
      (s, d) => dupComponents(documents(s, d)), Some(dupComponentsOracle)),
    Q("q78_curation_pipeline",
      (s, d) => curationPipeline(documents(s, d)), Some(curationOracle)),
    Q("q68_containment_pairs",
      (s, d) => containmentPairs(documents(s, d)), Some(containmentOracle)),
    Q("q26_dup_clusters",
      (s, d) => dupClusters(documents(s, d)), Some(dupClustersOracle)),
    Q("q27_jaccard_pairs",
      (s, d) => jaccardPairs(documents(s, d)), Some(jaccardOracle)),
    Q("q28_minhash_lsh",
      (s, d) => minhashLsh(documents(s, d)), Some(minhashOracle)),
    Q("q29_simhash",
      (s, d) => simhash(documents(s, d)), Some(simhashOracle)),
    Q("q101_decontamination",
      (s, d) => decontamination(documents(s, d)), Some(decontaminationOracle)),
    Q("q103_edit_distance_pairs",
      (s, d) => editDistancePairs(documents(s, d)), Some(editDistanceOracle)),
  )
}
