package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end pipeline demo — the engine's equivalent of the reference's
  * RUNME job DAG (RUNME.py:35-143): configure -> streaming ingest ->
  * image table -> split audit -> train -> register -> streaming score ->
  * scored table. Runs on the synthetic corpus; prints each stage's
  * observable output.
  *
  * usage: runMain graft.Demo
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    // 01_Configuration: paths
    val root   = Tmp.dir("graft_demo")
    val src    = Files.createDirectory(root.resolve("raw"))
    val images = root.resolve("images").toString
    val scored = root.resolve("scored").toString
    val runs   = root.resolve("runs").toString

    // capture: synthetic camera corpus
    imaging.ImageQueries.writeCorpus(src)
    println(s"[demo] corpus: ${src.toFile.list().length} jpgs")

    // 02_Data Ingest: streaming binaryFile -> enrich -> partitioned table
    ingest.Ingest.stream(spark, src.toString, images,
      root.resolve("cp_ingest").toString).awaitTermination()
    val imagesDf = spark.read.parquet(images)
    println(s"[demo] cv.images rows=${imagesDf.count()} " +
      s"partitions=${imagesDf.select("date").distinct().count()}")

    // 03: split audit + training (stats-vector featurizer + LR head)
    imagesDf.groupBy("label").agg(count(lit(1)).as("n")).orderBy("label")
      .collect().foreach(r => println(s"[demo] label=${r.get(0)} n=${r.get(1)}"))
    val model = ml.StreamScoring.trainOnImages(spark,
      imagesDf.select("statistics", "label"))
    ml.Scoring.logRun(spark, runs, "demo_run", 1.0, root.resolve("model").toString)
    println(s"[demo] trained; registered run=" +
      ml.Scoring.latestRun(spark, runs).collect()(0).getString(0))

    // 04: streaming inference -> scored table
    ml.StreamScoring.scoreStream(spark, model, src.toString, scored,
      root.resolve("cp_score").toString).awaitTermination()
    val scoredDf = spark.read.parquet(scored)
    val stats = scoredDf.agg(count(lit(1)), round(min("score"), 4),
      round(max("score"), 4)).collect()(0)
    println(s"[demo] cv.scored_images rows=${stats.get(0)} " +
      s"score_range=[${stats.get(1)}, ${stats.get(2)}]")

    println("[demo] DONE")
    spark.stop()
  }
}
