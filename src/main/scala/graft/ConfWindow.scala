package graft

import org.apache.spark.sql.SparkSession

/** Save/set/restore execution window for session conf keys. Its callers:
  * the q351 constraint-propagation-off window (ops.Lifecycle.forgetCascade),
  * the streaming queries' state-partition and no-data-batch window
  * (streaming.StreamingOps.runStream), q84's RocksDB state store
  * (StreamingOps.withRocksDb), and the artifact-isolation-off stream start
  * (graft.Streams.start). Takes any number of `key -> value` pairs, set in
  * order; restores each key's PRE-EXISTING value, never clobbers: a key
  * that was unset is unset again, not pinned to its default
  * (`conf.getOption` answers a registered key's default, so the saved
  * value comes from the explicitly set ones, `conf.getAll`).
  *
  * Concurrency caveat (documented, accepted): the window mutates the
  * SHARED session's conf, so any concurrent query planned inside it
  * also sees the values. Results are unaffected for the q351 use
  * (constraint propagation changes plans, not answers) and for the stream
  * start (a stream cloned inside it runs without artifact isolation); the
  * streaming window's shuffle partitions size state, not answers, but a
  * concurrent append-mode window stream started inside a no-data-off
  * window would lose its trailing batch and emit no finals. The bench
  * runs queries sequentially; a fully isolated alternative would
  * rebuild the frames under SparkSession.newSession(), which the
  * operator API (DataFrame-in) cannot do without re-reading sources.
  */
object ConfWindow {
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val old = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
