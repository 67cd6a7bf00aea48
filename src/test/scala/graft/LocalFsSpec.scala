package graft

import graft.imaging.ImageQueries
import graft.ingest.Ingest
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileContext, Path}
import scala.jdk.CollectionConverters._

/** `graft.LocalFs` writes stream checkpoints without starting processes,
  * and its checkpoints are interchangeable with those of Hadoop's own
  * `file:` FileContext filesystem. */
class LocalFsSpec extends SparkSpec {

  import LocalFs.Key
  private val HadoopLocalFs = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  /** The `jdk.ProcessStart` events of the processes `body` starts. */
  private def processesStartedDuring(body: => Unit): Seq[RecordedEvent] = {
    val file = Files.createTempFile("graft_spawns", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  /** Every entry under `root`, relative, with its `ls -l` mode. */
  private def listing(root: JPath): Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map(p => root.relativize(p).toString ->
      ((if (Files.isDirectory(p)) "d" else "-") +
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))).toSeq.sorted
    finally walk.close()
  }

  /** The 24-frame corpus written to `dir`, its files in name order. */
  private def frames(dir: JPath): Seq[JPath] = {
    ImageQueries.writeCorpus(dir)
    val ls = Files.list(dir)
    try ls.iterator.asScala.toSeq.sortBy(_.getFileName.toString) finally ls.close()
  }

  test("an AvailableNow ingest starts no process on the stream or the calling thread") {
    Tmp.withDir("graft_lfs_spawn") { d =>
      val src = Files.createDirectories(JPath.of(d, "src"))
      ImageQueries.writeCorpus(src)
      val caller = Thread.currentThread.getId
      // the session's start probes `setsid` once per JVM; it is no part of a stream
      spark.sparkContext
      var rows = 0L
      val spawns = processesStartedDuring {
        val q = Ingest.stream(spark, src.toString, s"$d/out", s"$d/ck")
        q.awaitTermination()
        rows = q.recentProgress.map(_.numInputRows).sum
      }
      assert(rows == 24)
      val ours = spawns.filter { e =>
        val t = e.getThread
        t != null && (t.getJavaThreadId == caller ||
          Option(t.getJavaName).exists(_.startsWith("stream execution thread")))
      }
      assert(ours.isEmpty, s"${ours.size} processes, the first: " + ours.take(5).map(e =>
        s"${e.getThread.getJavaName}: ${e.getString("command")}").mkString("\n", "\n", ""))
    }
  }

  test("a checkpoint continues across Hadoop's LocalFs and graft.LocalFs, both ways") {
    Tmp.withDir("graft_lfs_frames") { framesDir =>
      val all = frames(JPath.of(framesDir))
      /** 16 frames under `first`, then 8 more under `second`, on one
        * checkpoint: the rows each run reads, and the checkpoint's files. */
      def continued(first: String, second: String): (Long, Long, Seq[(String, String)]) =
        Tmp.withDir("graft_lfs_ck") { d =>
          val src = Files.createDirectories(JPath.of(d, "src"))
          def run(impl: String): Long = ConfWindow.withConf(spark, Key -> impl) {
            val q = Ingest.stream(spark, src.toString, s"$d/out", s"$d/ck")
            q.awaitTermination()
            q.recentProgress.map(_.numInputRows).sum
          }
          all.take(16).foreach(f => Files.copy(f, src.resolve(f.getFileName)))
          val n1 = run(first)
          all.drop(16).foreach(f => Files.copy(f, src.resolve(f.getFileName)))
          val n2 = run(second)
          assert(spark.read.parquet(s"$d/out").count() == 24)
          (n1, n2, listing(JPath.of(d, "ck")) ++
            listing(JPath.of(d, "out", "_spark_metadata")).map { case (p, m) => s"sink/$p" -> m })
        }
      val graft = classOf[LocalFs].getName
      val (a1, a2, hadoopThenGraft) = continued(HadoopLocalFs, graft)
      val (b1, b2, graftThenHadoop) = continued(graft, HadoopLocalFs)
      assert((a1, a2) == ((16L, 8L)) && (b1, b2) == ((16L, 8L)))
      assert(hadoopThenGraft == graftThenHadoop)
      assert(hadoopThenGraft.exists(_._1.endsWith(".crc")))
      assert(hadoopThenGraft.exists(_._1 == "commits/1"))
      hadoopThenGraft.foreach { case (p, mode) =>
        assert(mode == "drwxr-xr-x" || mode == "-rw-r--r--", s"$p $mode")
      }
    }
  }

  test("getFileLinkStatus on a symlink still reports the link and its target") {
    Tmp.withDir("graft_lfs_link") { d =>
      val target = Files.writeString(JPath.of(d, "target"), "x")
      val link = Files.createSymbolicLink(JPath.of(d, "link"), target)
      val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
      def status(impl: String, p: JPath) = {
        conf.set(Key, impl)
        FileContext.getFileContext(conf).getFileLinkStatus(new Path(p.toString))
      }
      val ours = status(classOf[LocalFs].getName, link)
      assert(ours.isSymlink)
      assert(ours.getSymlink.toUri.getPath == target.toString)
      val hadoops = status(HadoopLocalFs, link)
      assert((ours.getPath, ours.getSymlink, ours.getLen) ==
        ((hadoops.getPath, hadoops.getSymlink, hadoops.getLen)))
      assert(!status(classOf[LocalFs].getName, target).isSymlink)
    }
  }

  test("install keeps a filesystem already chosen in the Hadoop conf") {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = conf.get(Key)
    try {
      conf.set(Key, "com.example.OtherFs")
      LocalFs.install(spark)
      assert(conf.get(Key) == "com.example.OtherFs")
      conf.set(Key, HadoopLocalFs)
      LocalFs.install(spark)
      assert(conf.get(Key) == classOf[LocalFs].getName)
    } finally conf.set(Key, before)
  }
}
