package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** How the engine starts a stream. Every `StreamExecution` runs on a clone
  * of its session, made by `start()`. With artifact isolation on (Spark's
  * default), each clone gets its own `JobArtifactState`, so the local
  * executor builds a fresh session class loader per stream and keeps it
  * for 30 minutes; `CodeGenerator`'s cache is keyed by that loader, so
  * every stream start recompiles each generated class on the executors
  * and fetches its class-lookup misses from the driver. A clone made with
  * isolation off has no artifact state: its tasks run in the executor's
  * default session state, whose compiled classes every stream shares.
  * Streams run only the engine's own classes, so they need no isolation.
  */
object Streams {
  private val Isolation = "spark.sql.artifact.isolation.enabled"

  /** Run `startQuery` (a `DataStreamWriter.start` call) with [[LocalFs]]
    * installed and artifact isolation off in `spark`'s conf; the clone
    * keeps the setting, the session gets its own value back. */
  def start(spark: SparkSession)(startQuery: => StreamingQuery): StreamingQuery = {
    LocalFs.install(spark)
    ConfWindow.withConf(spark, Isolation -> "false")(startQuery)
  }
}
