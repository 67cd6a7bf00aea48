package graft
/** Ad-hoc per-query profiler: runMain graft.Profile <sfDir> <n> q... */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val n = args(1).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus).config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(2).foreach { q =>
      (1 to n).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        println(f"$q run$i ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
