package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up: replicate an SF directory `factor`×
  * with key-space remapping, so the scale story (VERDICT r6 §next-1) is
  * MEASURED at 10× the graded SF instead of argued from plan shapes.
  *
  * Design: every table with a synthetic key is replicated with
  * `key -> key * factor + r` (r = replica index), applied consistently
  * on both sides of every foreign key — join fan-outs, per-order line
  * counts and per-user event densities are preserved while key
  * cardinalities scale linearly, exactly how a bigger TPC-H SF behaves.
  * Fixed dimensions (nation/region) stay fixed, like real geo dims.
  *
  * Replicated free-text/vectors must NOT create a 10× exact-duplicate
  * corpus (that would turn every pairwise dedup query quadratic in the
  * replica count and measure a semantics change, not scale):
  *  - `documents.text` for r>0 gets a deterministic per-replica word
  *    permutation (sort words by xxhash64(word, r)). Token multiset,
  *    length and language stats are preserved — Zipf/quality/lang-ID
  *    workloads scale realistically — while word-shingle sets diverge,
  *    so MinHash/Jaccard near-dup structure stays proportional to the
  *    original corpus instead of exploding.
  *  - `embeddings.embedding` for r>0 is rotated by r positions — same
  *    norm distribution, new directions, so ANN buckets fill 10× denser
  *    without 10 exact copies of every vector.
  *  - entity name columns (c_name/s_name/p_name) for r>0 get a short
  *    per-replica hash suffix so edit-distance/record-linkage blocking
  *    scales in GROUPS (10× more distinct entities), not group size.
  *
  * Usage: `runMain graft.ScaleUp <srcSfDir> <outDir> [factor=10]`.
  * Output keeps the driver layout (one `<table>.parquet` FILE per
  * table — parquet is row-group-splittable, so a single file still
  * scans in parallel) and is readable by both `graft.Tables` and the
  * DuckDB oracle replica (tools/check.py), which makes the full
  * correctness sweep runnable at the scaled SF, not just the bench.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession()
    run(spark, src, out, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    Files.createDirectories(Paths.get(out))
    val f = factor

    def replicate(df: DataFrame): DataFrame =
      df.withColumn("__r", explode(lit((0 until f).toArray)))

    def remap(c: String): org.apache.spark.sql.Column =
      col(c) * f + col("__r")

    // a 4-hex-char deterministic suffix for r>0: distinct entities per
    // replica (edit distance >= the suffix length apart)
    def saltName(c: String): org.apache.spark.sql.Column =
      when(col("__r") === 0, col(c)).otherwise(
        concat(col(c), lit("#"), substring(md5(concat(col(c), col("__r"))), 1, 4)))

    write(out, "lineitem", replicate(Tables.lineitem(spark, src)).select(
      remap("l_orderkey").as("l_orderkey"),
      remap("l_partkey").as("l_partkey"),
      remap("l_suppkey").as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))

    write(out, "orders", replicate(Tables.orders(spark, src)).select(
      remap("o_orderkey").as("o_orderkey"),
      remap("o_custkey").as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))

    write(out, "customer", replicate(Tables.customer(spark, src)).select(
      remap("c_custkey").as("c_custkey"),
      saltName("c_name").as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))

    write(out, "supplier", replicate(Tables.supplier(spark, src)).select(
      remap("s_suppkey").as("s_suppkey"),
      saltName("s_name").as("s_name"),
      col("s_nationkey"), col("s_acctbal")))

    write(out, "part", replicate(Tables.part(spark, src)).select(
      remap("p_partkey").as("p_partkey"),
      saltName("p_name").as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")))

    // fixed dims: copied verbatim
    write(out, "nation", Tables.nation(spark, src))
    write(out, "region", Tables.region(spark, src))

    // ts goes back out as BIGINT NANOS — the driver's physical layout
    // (TIMESTAMP(NANOS), which Spark reads as long); bigint nanos keeps
    // every reader (batch and streaming through Tables.readEvents, DuckDB
    // via the check.py make_timestamp_ns shim) on the code path the
    // graded corpus uses.
    // ts may surface as TIMESTAMP_NTZ (driver parquet is TIMESTAMP(NANOS,
    // isAdjustedToUTC=false)); unix_micros needs TIMESTAMP — the cast is
    // value-preserving because the session timezone is pinned to UTC
    write(out, "events", replicate(Tables.events(spark, src)).select(
      remap("event_id").as("event_id"),
      (unix_micros(col("ts").cast("timestamp")) * 1000L).as("ts"),
      remap("user_id").as("user_id"),
      col("event_type"), col("value"), col("props")))

    // Per-replica word RENAMING for r>0: each token maps to a same-length
    // md5-derived pseudo-token (deterministic in (word, r), padded or
    // truncated to the original length). Frequencies, word lengths and
    // n_chars are preserved exactly — Zipf/quality/token-count workloads
    // scale realistically — while replicas share no vocabulary, so
    // near-dup structure (token-SET similarity: Jaccard/containment/
    // MinHash/PPJoin) scales ×factor linearly, like a real bigger corpus
    // with the same dup rate. The first cut of this generator permuted
    // word ORDER instead; that preserves the token set, which turns every
    // replica group into a 100%-similarity near-dup clique — the pairwise
    // family then measures a corpus-semantics artifact (45× the dup
    // pairs at factor 10), not engine scaling.
    val renamed = when(col("__r") === 0, col("text")).otherwise(
      array_join(
        transform(split(col("text"), " "),
          w => rpad(md5(concat(w, col("__r"))), length(w), lit("x"))),
        " "))
    write(out, "documents", replicate(Tables.documents(spark, src)).select(
      remap("doc_id").as("doc_id"),
      renamed.as("text"),
      col("lang"), col("source"), col("n_chars")))

    // rotate the vector by r positions (norm-preserving new direction)
    val rotated = when(col("__r") === 0, col("embedding")).otherwise(
      concat(
        slice(col("embedding"), pmod(col("__r"), size(col("embedding"))) + 1,
          size(col("embedding"))),
        slice(col("embedding"), lit(1),
          pmod(col("__r"), size(col("embedding"))))))
    write(out, "embeddings", replicate(Tables.embeddings(spark, src)).select(
      remap("vec_id").as("vec_id"),
      rotated.as("embedding"),
      col("label")))
  }

  /** Write one driver-layout table: a single `<name>.parquet` FILE. */
  private def write(out: String, name: String, df: DataFrame): Unit = {
    val tmp = s"$out/__tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .find(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(Paths.get(part), Paths.get(s"$out/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .foreach(p => Files.delete(Paths.get(p)))
    Files.delete(Paths.get(tmp))
    println(s"scaleup: wrote $out/$name.parquet")
  }
}
