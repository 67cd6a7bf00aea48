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

  test("a TIMESTAMP(NANOS) events table reads through Tables.t in a fresh session") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val schema = MessageTypeParser.parseMessageType("""message events {
      optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false));
      optional int64 user_id; optional binary event_type (STRING);
      optional double value; optional binary props (STRING); }""")
    val nanos = Seq(1700000000000000000L, 1700000000123456000L, 1700000060000001000L)
    Tmp.withDir("graft_nanos_spec") { dir =>
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
        .withType(schema).build()
      val rows = new SimpleGroupFactory(schema)
      try nanos.zipWithIndex.foreach { case (ns, i) =>
        w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns)
          .append("user_id", 7L).append("event_type", "view")
          .append("value", 1.5).append("props", "{}"))
      } finally w.close()
      // a fresh session has no nanosAsLong until Tables sets it
      val t = Tables.t(SparkSpec.session.newSession(), dir, "events")
      assert(t.schema("ts").dataType == LongType)
      assert(t.orderBy("event_id").collect().map(_.getLong(1)).toSeq == nanos)
      val ev = Tables.events(SparkSpec.session.newSession(), dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
        .map(_.getLong(0)).toSeq == nanos.map(_ / 1000))
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
