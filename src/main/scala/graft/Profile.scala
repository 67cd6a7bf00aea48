package graft
/** Ad-hoc per-query profiler: runMain graft.Profile <sfDir> <n> q...
  * Early reps carry JIT warm-up, so each query ends with the median of
  * its second-half reps. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val n = args(1).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus).config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(2).foreach { q =>
      val secs = (1 to n).map { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"$q run$i $s%.2f s")
        s
      }
      val late = secs.drop(n / 2).sorted
      val med = (late((late.size - 1) / 2) + late(late.size / 2)) / 2
      println(f"$q median of reps ${n / 2 + 1}-$n $med%.2f s ($n reps)")
    }
    spark.stop()
  }
}
