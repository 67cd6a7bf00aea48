package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe of the engine's mains (`Verify`, `Demo`,
  * `ScaleUp`, `Inspect`): `local[n]` with n = `SPARK_GRAFT_CPUS`
  * (default 32) and n shuffle partitions, the UTC session time zone, no
  * UI and WARN logs. `Bench` and cvbench build their own sessions; the
  * tests share `SparkSpec`'s.
  */
object LocalSession {
  def apply(): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
