package graft

import graft.imaging.ImageQueries
import graft.ingest.Ingest
import graft.ml.StreamScoring
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.StreamingQuery

/** A stream started through `graft.Streams` reuses the classes generated
  * for an identical earlier stream: its tasks share the executor's default
  * session state instead of a class loader of their own. */
class StreamsSpec extends SparkSpec {

  /** The generated classes Janino compiles, on driver and executors,
    * while `body` runs. */
  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Run `start(i)` to completion for a warm-up and then for a second,
    * identical stream, and return what the second compiled. The session's
    * artifact-isolation key stays unset. */
  private def secondRunCompiles(start: Int => StreamingQuery): Long = {
    def run(i: Int): Unit = {
      val q = start(i)
      q.awaitTermination()
      assert(q.recentProgress.map(_.numInputRows).sum == 24, s"run $i")
    }
    run(0)
    val n = compilesDuring(run(1))
    assert(!spark.conf.getAll.contains("spark.sql.artifact.isolation.enabled"))
    n
  }

  private def corpus(d: String): String = {
    val src = Files.createDirectories(JPath.of(d, "src"))
    ImageQueries.writeCorpus(src)
    src.toString
  }

  test("a second identical ingest stream compiles no generated class") {
    Tmp.withDir("graft_streams_ingest") { d =>
      val src = corpus(d)
      assert(secondRunCompiles(i => Ingest.stream(spark, src, s"$d/out$i", s"$d/ck$i")) == 0)
    }
  }

  test("a second identical scoring stream compiles no generated class") {
    Tmp.withDir("graft_streams_score") { d =>
      val src = corpus(d)
      val model = StreamScoring.trainOnImages(spark,
        Ingest.batch(spark, src).select("statistics", "label"))
      assert(secondRunCompiles(i =>
        StreamScoring.scoreStream(spark, model, src, s"$d/out$i", s"$d/ck$i")) == 0)
    }
  }
}
