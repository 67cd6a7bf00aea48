package graft

/** Central reset for every driver-side memo cache in the engine.
  *
  * Bench calls [[reset]] between its warm pass and its timed pass so no
  * query's timed region can inherit warm-pass work through a JVM-level
  * memo — regardless of how the individual cache is keyed. The r12
  * verdict flagged exactly one such transfer (q51's model fit was keyed
  * on the JVM-shared fixture corpus dir, so the warm pass trained the
  * model the timed pass reused); the sfDir-keyed caches were never
  * shared across passes, but clearing them too makes the guarantee
  * structural instead of per-cache-audit.
  *
  * The caches cleared here hold DERIVED driver-side state only (fitted
  * coefficient vectors, an audit row list, a committed-table path);
  * prepared on-disk FIXTURES (split-source copies, bucketed tables,
  * text/XML/CSV copies) are corpus preparation declared in Bench's
  * warmup block and are NOT reset — they are keyed per sfDir and
  * prepared for the timed sfDir before any timer starts. Corpus schemas
  * need no memo: each read takes its schema from the parquet footer
  * (`Tables.schema`), which starts no job.
  */
object Memos {
  def reset(): Unit = {
    ml.StreamScoring.resetMemo()
    ml.Scoring.resetMemo()
    ingest.IngestQueries.resetMemo()
  }
}
