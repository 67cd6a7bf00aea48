package graft.ml

import graft.{Q, QueryModule}

/** Rows-only ML queries (solver outputs are not oracle-checkable). */
object MlQueries extends QueryModule {

  /** Entry point C end-to-end as a query: train on a synthetic image
    * batch, score the same corpus through the streaming sink, return the
    * scored table (schema (path, score), FIXTURES.md A.3).
    */
  private def streamingScore(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    // source corpus is shared (read-only, JVM-wide); the sink + checkpoint
    // must be fresh per run for streaming exactly-once semantics
    val src = graft.imaging.ImageQueries.sharedCorpusDir
    val out = graft.Tmp.dir("q51_out")
    val cp  = graft.Tmp.dir("q51_cp")
    val labeled = graft.ingest.Ingest.batch(s, src.toString).select("statistics", "label")
    val model = StreamScoring.trainOnImages(s, labeled)
    StreamScoring.scoreStream(s, model, src.toString, out.toString, cp.toString)
      .awaitTermination()
    s.read.parquet(out.toString).orderBy("path")
  }

  override def queries: Seq[Q] = Seq(
    Q("q43_ml_train_score", (s, d) => Scoring.trainAndScore(s, d), None),
    Q("q51_streaming_score", (s, _) => streamingScore(s), None),
    Q("q52_tfidf_features",
      (s, d) => TextPipeline.tfidfExact(graft.Tables.documents(s, d)),
      Some(TextPipeline.tfidfExactOracle)),
    Q("q414_adaptive_tuning",
      (s, d) => Scoring.adaptiveTuningAudit(s, d), None),
    Q("q415_registry_stages",
      (s, d) => Registry.stageReport(
        Registry.syntheticLog(graft.Tables.events(s, d))),
      Some(Registry.stageReportOracle)),
  )
}
