package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}
import graft.Num._

/** Oracle-checked queries over the [[AtomicSink]] manifest-swap commit
  * protocol — the transactional read-back path (the q177 time-travel
  * reader driven through the sink's OWN commits instead of a hand-built
  * manifest): commit v1 = open orders, commit v2 appends the filled
  * ones, then audit every version's snapshot. The oracle replays the
  * commit semantics directly against the source table, so a torn or
  * misordered commit hash-mismatches.
  */
object IngestQueries extends QueryModule {

  private def committedTable(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Tmp.dir("graft_atomic_tbl").toString + "/orders"
    val o = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    AtomicSink.commit(o.filter(col("o_orderstatus") === "O"), dir)
    AtomicSink.commit(o.filter(col("o_orderstatus") === "F"), dir)
    dir
  }

  def atomicSnapshots(spark: SparkSession, sfDir: String): DataFrame = {
    val table = committedTable(spark, sfDir)
    AtomicSink.versions(spark, table).map { v =>
      AtomicSink.read(spark, table, v)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
        .select(lit(v).as("version"), col("n_rows"), col("revenue"))
    }.reduce(_.unionAll(_)).orderBy("version")
  }

  private val atomicSnapshotsOracle = """
    WITH snap AS (
      SELECT 1 AS version, o_totalprice FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT 2, o_totalprice FROM orders WHERE o_orderstatus IN ('O', 'F'))
    SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n_rows,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM snap GROUP BY version ORDER BY version"""

  override def queries: Seq[Q] = Seq(
    Q("q416_atomic_snapshots",
      (s, d) => atomicSnapshots(s, d), Some(atomicSnapshotsOracle)),
  )
}
