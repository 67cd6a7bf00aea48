package graft

import org.apache.spark.sql.SparkSession

/** Tables reads each corpus schema from a parquet footer: the result must
  * equal Spark's own inference, for a single file and for a Spark-written
  * directory, and building a table frame must start no Spark job. Runs on
  * its own SQL session with nanosAsLong set, as a TIMESTAMP(NANOS) events
  * footer needs it.
  */
class TablesSpec extends SparkSpec {
  override lazy val spark: SparkSession = {
    val s = SparkSpec.session.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  for (sfName <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"footer schema equals inferred schema for every $sfName table") {
      val dir = new java.io.File(sf(sfName))
      assume(dir.isDirectory, s"$dir is not present")
      val files = dir.listFiles.map(_.getPath).filter(_.endsWith(".parquet")).sorted
      assert(files.length == 10)
      files.foreach { p =>
        assert(Tables.schema(spark, p) == spark.read.parquet(p).schema, p)
      }
    }

  test("footer schema of a Spark-written multi-file directory") {
    val sfDir = sf("sf0.001")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir is not present")
    Tmp.withDir("graft_tables_spec") { tmp =>
      val path = s"$tmp/events.parquet"
      Tables.events(spark, sfDir).repartition(4).write.parquet(path)
      val names = new java.io.File(path).list.toSet
      assert(names("_SUCCESS") && names.count(_.endsWith(".parquet")) == 4)
      assert(Tables.schema(spark, path) == spark.read.parquet(path).schema)
      // a micros (non-nanos) events copy still loads as TIMESTAMP
      val copy = Tables.events(spark, tmp)
      val orig = Tables.events(spark, sfDir)
      assert(copy.schema == orig.schema)
      assert(copy.exceptAll(orig).isEmpty && orig.exceptAll(copy).isEmpty)
    }
  }

  test("building every table loader starts no Spark job") {
    val sfDir = sf("sf0.001")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir is not present")
    val loaders = Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.lineitem, Tables.orders, Tables.customer, Tables.supplier,
      Tables.part, Tables.nation, Tables.region, Tables.events,
      Tables.documents, Tables.embeddings)
    val jobs = jobsDuring(loaders.foreach(_(spark, sfDir)))
    assert(jobs.isEmpty, s"building the ${loaders.size} table frames ran ${jobs.size} job(s)")
  }
}
