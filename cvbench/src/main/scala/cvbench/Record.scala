package cvbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Writes the expected result of every SQL operation of the benchmark:
  *
  * {{{
  * cvbench.Record <work-dir> <expected.tsv>
  * }}}
  *
  * Each query runs three times on the generated corpus. A query whose
  * digest differs between the runs is not deterministic; it is stored
  * with `-` and checked by row count only.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(work, Runtime.getRuntime.availableProcessors)
    val dir = work.resolve("corpus").toString
    Corpus.write(spark, dir)
    val queries = SqlWorkload.distAnalytics.queries
    val lines = queries.sorted.map { q =>
      val runs = (1 to 3).map { _ =>
        graft.Memos.reset()
        Digest.of(graft.SparkEntry.queries(q)(spark, dir))
      }
      require(runs.map(_._1).distinct.length == 1, s"$q: row counts differ between runs: $runs")
      val digest = if (runs.map(_._2).distinct.length == 1) runs.head._2 else "-"
      s"$q ${runs.head._1} $digest"
    }
    val header = Seq("# op rows digest, written by cvbench.Record on the corpus of cvbench.Corpus;",
      "# a digest of - marks a query whose output differs between runs (row count only)")
    Files.write(Paths.get(args(1)), (header ++ lines).asJava)
    spark.stop()
    System.exit(0)
  }
}
