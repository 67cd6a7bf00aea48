package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._

/** Data-layout operators (the 100 TB posture, SURVEY.md §2.9): multi-
  * dimensional clustering via a Z-order (Morton) sort key, and small-file
  * compaction planning via quota bin-packing. Neither exists in the
  * reference (its layout story is a single `partitionBy('date')`,
  * `02_Data Ingest.py:280`); both are table-maintenance primitives any
  * lakehouse engine needs once tables hit thousands of files.
  *
  * Scale notes:
  *  - The Z-value is a pure per-row expression (shift/mask arithmetic,
  *    whole-stage codegen) — the layout write at scale is
  *    `repartitionByRange(zval)` + `sortWithinPartitions(zval)`, one
  *    range-shuffle over the table. The graded query assigns file ids
  *    with a global `ntile` instead so the assignment is reproducible in
  *    the oracle; the audit aggregation (per-file bounding boxes = what
  *    min/max parquet footer stats would hold) is the same either way.
  *  - The compaction planner runs on the FILE MANIFEST (one row per
  *    file), which is ~10^5-10^6 rows even at 100 TB — metadata scale,
  *    not data scale. Output bins are contiguous key ranges, so executing
  *    the plan preserves any existing sort order.
  */
object Layout extends QueryModule {

  /** Morton-interleave the low `bits` of x and y: x occupies even bit
    * positions, y odd. Unrolled shift/mask arithmetic — stays inside
    * whole-stage codegen (no UDF).
    */
  def zorder2(x: Column, y: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-order layout audit over (part, supplier) locality: bucket both
    * keys to 8 bits, Z-interleave, carve the Z-sorted table into 32
    * equal "files", and report each file's bounding box in key space.
    * The bbox areas ARE the data-skipping quality: a min/max footer
    * filter on either dimension prunes a file iff the predicate misses
    * its box, and Z-ordered boxes are ~squares (side ~= 256/sqrt(32))
    * rather than full-width stripes.
    */
  def zorderLayout(li: DataFrame, files: Int = 32): DataFrame = {
    val keyed = li.select(
      col("l_orderkey"), col("l_linenumber"),
      pmod(col("l_partkey"), lit(256L)).as("x"),
      pmod(col("l_suppkey"), lit(256L)).as("y"))
    val z = keyed.withColumn("zval", zorder2(col("x"), col("y")))
    // The file carve needs a global rank over (zval, orderkey, linenumber);
    // a flat ntile window would serialize the corpus through one partition.
    // Dist.withNtile (q195/q196 two-level decomposition): 256 buckets on
    // the 16-bit zval (leading sort key — cross-bucket order equals flat
    // order), then ntile's documented fill rule — the first (n mod files)
    // files take ceil(n/files) rows — applied arithmetically to the
    // global rank. file_id is identical to the flat ntile form the
    // oracle keeps.
    val filed = Dist.withNtile(z, expr("zval DIV 256"),
      Seq(col("zval"), col("l_orderkey"), col("l_linenumber")),
      files, "file_id")
    filed.groupBy("file_id")
      .agg(
        count(lit(1)).as("n_rows"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"),
        ((max("x") - min("x") + lit(1L)) * (max("y") - min("y") + lit(1L)))
          .as("bbox_area"))
      .orderBy("file_id")
  }

  private val zorderBitsSql: String =
    (0 until 8).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  private val zorderOracle = s"""
    WITH keyed AS (
      SELECT l_orderkey, l_linenumber,
             l_partkey % 256 AS x, l_suppkey % 256 AS y
      FROM lineitem),
    z AS (SELECT *, $zorderBitsSql AS zval FROM keyed),
    filed AS (
      SELECT *, CAST(ntile(32) OVER (
        ORDER BY zval, l_orderkey, l_linenumber) AS BIGINT) AS file_id
      FROM z)
    SELECT file_id, COUNT(*) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y,
           (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS bbox_area
    FROM filed GROUP BY file_id ORDER BY file_id"""

  /** Compaction plan via sequential quota bin-packing: treat each part
    * key's lineitem rows as one "file" of `sum(quantity*100+37)` bytes,
    * walk files in key order, and cut a new output bin every time the
    * running total crosses a 1 MiB quota (bin = bytes-before-this-file
    * div quota — a closed-form window expression, no iteration). Bins
    * are contiguous key ranges sized ~quota, the exact shape a
    * small-file compactor wants; overflow is bounded by one file.
    */
  def compactionPlan(li: DataFrame, quotaBytes: Long = 1L << 20): DataFrame = {
    val manifest = li.groupBy("l_partkey")
      .agg(sum((col("l_quantity") * 100 + lit(37)).cast("long")).as("bytes"))
    // the manifest is metadata-scale but still corpus-proportional (one
    // row per part key): the running byte total distributes via Dist
    Dist.withRunningSum(manifest, expr("l_partkey DIV 65536"),
        Seq(col("l_partkey")), col("bytes"), "run")
      .withColumn("cum_before", col("run") - col("bytes"))
      .withColumn("bin", expr(s"cum_before div $quotaBytes")) // exact integer div
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_files"),
        sum("bytes").as("bin_bytes"),
        min("l_partkey").as("min_key"), max("l_partkey").as("max_key"))
      .orderBy("bin")
  }

  private val compactionOracle = """
    WITH manifest AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity * 100 + 37 AS BIGINT)) AS bytes
      FROM lineitem GROUP BY l_partkey),
    binned AS (
      SELECT *, COALESCE(SUM(bytes) OVER (ORDER BY l_partkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM manifest),
    withbin AS (
      SELECT *, CAST(cum_before // 1048576 AS BIGINT) AS bin FROM binned)
    SELECT bin, COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MIN(l_partkey) AS min_key, MAX(l_partkey) AS max_key
    FROM withbin GROUP BY bin ORDER BY bin"""

  /** Merkle-style table reconciliation: compare two table versions by
    * RANGE CHECKSUM, not row-by-row. Each row folds to a portable
    * integer hash (ascii fold over its md5, q24's cross-engine recipe —
    * doubles enter as exact scaled integers, never as formatted
    * strings); rows roll up into orderkey-range buckets as (count,
    * sum-of-hashes); the two bucket manifests full-outer join and only
    * buckets whose checksums disagree are reported. At 100 TB the
    * manifests are ~10^5 rows each side while the tables never move —
    * the anti-entropy pattern replication/backup verification uses.
    * The "remote" side here is a deterministic in-plan mutation of the
    * local table (dropped rows + price edits), so the disagreement set
    * is known and oracle-checkable.
    */
  /** Portable row hash: 31-ary polynomial over the first 8 md5 hex chars
    * — UNROLLED plain arithmetic (ascii, substring, add, multiply), not a lambda
    * fold: higher-order functions evaluate interpreted per element,
    * which cost ~4s over the sf0.1 corpus; the unrolled form stays
    * inside whole-stage codegen. 32 bits of the digest is plenty for a
    * range checksum (collisions only mask drift at ~2^-32 per colliding
    * pair); max value 122·Σ31^i < 2^45, no overflow.
    */
  private def rowHashSqlSpark(mExpr: String): String =
    (0 until 8).map { i =>
      s"cast(ascii(substring($mExpr, ${i + 1}, 1)) as bigint) * ${math.pow(31, 7 - i).toLong}L"
    }.mkString(" + ")

  private[ops] def rowHashSqlDuck(mExpr: String): String =
    (0 until 8).map { i =>
      s"CAST(ascii(substring($mExpr, ${i + 1}, 1)) AS BIGINT) * ${math.pow(31, 7 - i).toLong}"
    }.mkString(" + ")

  def tableDiff(li: DataFrame, bucketSpan: Long = 1000L): DataFrame = {
    // hash-repartition on bucket BEFORE the md5 projection: the corpus
    // arrives as one file (one scan partition), so the CPU-bound digest
    // stage would run single-threaded; the narrow pre-shuffle spreads it
    // across the cluster AND is the exact partitioning the per-bucket
    // rollup needs, so the groupBy adds no second exchange
    // SINGLE scan: the b-side manifest is a deterministic derivation of
    // the same rows (filter + price perturbation), so both row hashes
    // project from one pass — h_b NULL for "lost" rows — and one grouped
    // aggregate replaces two scan+shuffle pipelines plus the full-outer
    // join (b's buckets are a subset of a's by construction; an absent
    // b-bucket is exactly n_b = 0).
    def mOf(price: String): String =
      s"substring(md5(cast(concat_ws('|', l_orderkey, l_linenumber, " +
        s"cast(round(l_quantity) as bigint), " +
        s"cast(round($price * 100) as bigint)) as binary)), 1, 8)"
    val hashed = li
      .select(
        expr(s"l_orderkey div $bucketSpan").as("bucket"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .repartition(32, col("bucket")) // pinned width: AQE would coalesce an advisory repartition of ~30MB back to 1 partition (the q103 lesson), re-serializing the digest stage
      .select(
        col("bucket"), col("l_orderkey"),
        expr(mOf("l_extendedprice")).as("_ma"),
        expr(mOf( // "corrupted" rows
          "(CASE WHEN pmod(l_orderkey, 977) = 5 THEN l_extendedprice + 1.0 " +
            "ELSE l_extendedprice END)")).as("_mb"))
      .select(
        col("bucket"),
        expr(rowHashSqlSpark("_ma")).as("h_a"),
        when(pmod(col("l_orderkey"), lit(971L)) === 3, lit(null)) // "lost" rows
          .otherwise(expr(rowHashSqlSpark("_mb"))).as("h_b"))
    hashed.groupBy("bucket")
      .agg(count(lit(1)).as("n_a"), sum("h_a").as("ck_a"),
        count(col("h_b")).as("n_b"), sum("h_b").as("ck_b"))
      .withColumn("status",
        when(col("n_b") === 0L, "only_in_a")
          .when(col("n_a") =!= col("n_b"), "count_drift")
          .when(col("ck_a") =!= col("ck_b"), "content_drift")
          .otherwise("match"))
      .filter(col("status") =!= "match")
      .select(col("bucket"), col("status"), col("n_a"), col("n_b"))
      .orderBy("bucket")
  }

  private val tableDiffOracle = """
    WITH hashed AS (
      SELECT l_orderkey // 1000 AS bucket, l_orderkey, l_linenumber,
        CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))), 1, 8), 1, 1)) AS BIGINT) * 27512614111 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))), 1, 8), 2, 1)) AS BIGINT) * 887503681 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))), 1, 8), 3, 1)) AS BIGINT) * 28629151 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))), 1, 8), 4, 1)) AS BIGINT) * 923521 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))), 1, 8), 5, 1)) AS BIGINT) * 29791 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))), 1, 8), 6, 1)) AS BIGINT) * 961 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))), 1, 8), 7, 1)) AS BIGINT) * 31 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))), 1, 8), 8, 1)) AS BIGINT) * 1 AS h,
        l_orderkey % 971 AS m
      FROM lineitem),
    hashed_b AS (
      SELECT l_orderkey // 1000 AS bucket,
        CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND((CASE WHEN l_orderkey % 977 = 5 THEN l_extendedprice + 1.0 ELSE l_extendedprice END) * 100, 0) AS BIGINT))), 1, 8), 1, 1)) AS BIGINT) * 27512614111 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND((CASE WHEN l_orderkey % 977 = 5 THEN l_extendedprice + 1.0 ELSE l_extendedprice END) * 100, 0) AS BIGINT))), 1, 8), 2, 1)) AS BIGINT) * 887503681 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND((CASE WHEN l_orderkey % 977 = 5 THEN l_extendedprice + 1.0 ELSE l_extendedprice END) * 100, 0) AS BIGINT))), 1, 8), 3, 1)) AS BIGINT) * 28629151 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND((CASE WHEN l_orderkey % 977 = 5 THEN l_extendedprice + 1.0 ELSE l_extendedprice END) * 100, 0) AS BIGINT))), 1, 8), 4, 1)) AS BIGINT) * 923521 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND((CASE WHEN l_orderkey % 977 = 5 THEN l_extendedprice + 1.0 ELSE l_extendedprice END) * 100, 0) AS BIGINT))), 1, 8), 5, 1)) AS BIGINT) * 29791 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND((CASE WHEN l_orderkey % 977 = 5 THEN l_extendedprice + 1.0 ELSE l_extendedprice END) * 100, 0) AS BIGINT))), 1, 8), 6, 1)) AS BIGINT) * 961 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND((CASE WHEN l_orderkey % 977 = 5 THEN l_extendedprice + 1.0 ELSE l_extendedprice END) * 100, 0) AS BIGINT))), 1, 8), 7, 1)) AS BIGINT) * 31 + CAST(ascii(substring(substring(md5(CONCAT_WS('|', l_orderkey, l_linenumber, CAST(ROUND(l_quantity, 0) AS BIGINT), CAST(ROUND((CASE WHEN l_orderkey % 977 = 5 THEN l_extendedprice + 1.0 ELSE l_extendedprice END) * 100, 0) AS BIGINT))), 1, 8), 8, 1)) AS BIGINT) * 1 AS h
      FROM lineitem WHERE l_orderkey % 971 <> 3),
    ma AS (SELECT bucket, COUNT(*) AS n_a, CAST(SUM(h) AS BIGINT) AS ck_a
      FROM hashed GROUP BY bucket),
    mb AS (SELECT bucket, COUNT(*) AS n_b, CAST(SUM(h) AS BIGINT) AS ck_b
      FROM hashed_b GROUP BY bucket),
    joined AS (
      SELECT COALESCE(ma.bucket, mb.bucket) AS bucket, n_a, ck_a, n_b, ck_b,
        CASE WHEN n_b IS NULL THEN 'only_in_a'
             WHEN n_a IS NULL THEN 'only_in_b'
             WHEN n_a <> n_b THEN 'count_drift'
             WHEN ck_a <> ck_b THEN 'content_drift'
             ELSE 'match' END AS status
      FROM ma FULL OUTER JOIN mb ON ma.bucket = mb.bucket)
    SELECT bucket, status, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
    FROM joined WHERE status <> 'match' ORDER BY bucket"""

  /** Snapshot time travel over a version manifest — the lakehouse read
    * path (Delta/Iceberg-style) rebuilt from first principles: each
    * commit adds/removes whole files, a snapshot AS OF v is exactly the
    * files with added ≤ v < removed, and the reader plans a multi-path
    * parquet scan over just those files. The fixture commits three
    * versions of the orders table (v1: open orders; v2: + filled and
    * pending; v3: filled retired); the query reads every version's
    * snapshot and audits row count + exact revenue — time travel never
    * rewrites data, only the manifest.
    *
    * Scale: the manifest is metadata (one row per file, ~10^5-10^6 rows
    * at 100 TB) — snapshot planning is a manifest filter, and the data
    * scan reads only live files (dead files cost nothing).
    */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = timeTravelDir(spark, sfDir)
    // manifest: (path, added_v, removed_v); removed_v = MaxValue = live
    val manifest = Seq(
      (s"$dir/f_open", 1, Int.MaxValue),
      (s"$dir/f_filled", 2, 3),
      (s"$dir/f_pending", 2, Int.MaxValue))
    val snapshots = (1 to 3).map { v =>
      val live = manifest.collect {
        case (p, a, r) if a <= v && v < r => p
      }
      spark.read.parquet(live: _*)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("revenue"))
    }
    snapshots.reduce(_.union(_)).orderBy("version")
  }

  private val timeTravelDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def timeTravelDir(spark: SparkSession, sfDir: String): String =
    timeTravelDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.Tmp.dir("graft_time_travel")
      val o = orders(spark, sfDir)
      o.filter(col("o_orderstatus") === "O").write.mode("overwrite").parquet(s"$dir/f_open")
      o.filter(col("o_orderstatus") === "F").write.mode("overwrite").parquet(s"$dir/f_filled")
      o.filter(col("o_orderstatus") === "P").write.mode("overwrite").parquet(s"$dir/f_pending")
      dir.toString
    })

  /** Bench warmup hook (corpus preparation, not q177 operator cost). */
  def prepareTimeTravel(spark: SparkSession, sfDir: String): Unit = {
    timeTravelDir(spark, sfDir); ()
  }

  // the oracle replays the commit semantics directly against the source
  // table: v1 = O, v2 = O+F+P, v3 = O+P (f_filled retired at v3)
  private val timeTravelOracle = """
    WITH snap AS (
      SELECT 1 AS version, o_totalprice FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT 2, o_totalprice FROM orders
      UNION ALL
      SELECT 3, o_totalprice FROM orders WHERE o_orderstatus IN ('O', 'P'))
    SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n_rows,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM snap GROUP BY version ORDER BY version"""

  // ---------------------------------------------------------------- q342

  /** SCD Type-2 dimension build from the event stream: each user's
    * event_type is the tracked attribute; consecutive duplicates
    * collapse (lag-based change detection), each version gets
    * [valid_from, valid_to) from the next change, the last version per
    * user stays open (is_current). The report audits the built
    * dimension per attribute value: version count, open-version count,
    * and the exact mean closed-version duration (integer µs DIV). One
    * per-user window pass — the standard merge-free SCD2 derivation.
    */
  def scd2Build(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val changes = events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("ts"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val w2 = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val versions = changes
      .withColumn("valid_to_us", lead("us", 1).over(w2))
    versions.groupBy("event_type")
      .agg(count(lit(1)).as("n_versions"),
        sum(col("valid_to_us").isNull.cast("long")).as("n_current"),
        sum(when(col("valid_to_us").isNotNull,
          col("valid_to_us") - col("us")).otherwise(lit(0L))).as("dur_us"),
        sum(col("valid_to_us").isNotNull.cast("long")).as("n_closed"))
      .select(col("event_type"), col("n_versions"), col("n_current"),
        expr("CASE WHEN n_closed > 0 THEN dur_us DIV n_closed END")
          .as("avg_dur_us"))
      .orderBy("event_type")
  }

  private val scd2Oracle = """
    WITH ordered AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
        LAG(event_type, 1) OVER
          (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    changes AS (
      SELECT user_id, event_type, event_id, us
      FROM ordered WHERE prev IS NULL OR prev <> event_type),
    versions AS (
      SELECT user_id, event_type, us,
        LEAD(us, 1) OVER
          (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us
      FROM changes)
    SELECT event_type, COUNT(*) AS n_versions,
      CAST(SUM(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_current,
      CASE WHEN SUM(CASE WHEN valid_to_us IS NOT NULL THEN 1 ELSE 0 END) > 0
        THEN CAST(SUM(CASE WHEN valid_to_us IS NOT NULL
                      THEN valid_to_us - us ELSE 0 END)
          // SUM(CASE WHEN valid_to_us IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) END AS avg_dur_us
    FROM versions GROUP BY event_type ORDER BY event_type"""

  // ---------------------------------------------------------------- q369

  /** Roaring-bitmap container audit over the distinct orderkey set:
    * keys chunk by high 16 bits; a chunk holds an array container
    * below 4096 distinct low-words (2 B/key + 8 B header) and a fixed
    * 8 KiB bitmap above. The report gives per-container-type counts,
    * key mass and estimated bytes, next to the uncompressed 8 B/key
    * baseline — the audit behind choosing bitmap indexes for a
    * low-cardinality key at 100 TB. One distinct + one chunk-keyed
    * rollup (map-side combined).
    */
  def bitmapContainers(orders: DataFrame): DataFrame = {
    val chunks = orders.select(col("o_orderkey").cast("long").as("k"))
      .distinct()
      .groupBy(expr("k DIV 65536").as("chunk"))
      .agg(count(lit(1)).as("card"))
      .withColumn("ctype",
        when(col("card") < 4096, "array").otherwise("bitmap"))
      .withColumn("bytes",
        when(col("card") < 4096, col("card") * 2 + 8).otherwise(lit(8200L)))
    chunks.groupBy("ctype")
      .agg(count(lit(1)).as("n_containers"), sum("card").as("n_keys"),
        sum("bytes").as("est_bytes"))
      .withColumn("uncompressed_bytes", col("n_keys") * 8)
      .orderBy("ctype")
  }

  private val bitmapOracle = """
    WITH chunks AS (
      SELECT k // 65536 AS chunk, COUNT(*) AS card FROM (
        SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k FROM orders)
      GROUP BY 1),
    typed AS (
      SELECT chunk, card,
        CASE WHEN card < 4096 THEN 'array' ELSE 'bitmap' END AS ctype,
        CASE WHEN card < 4096 THEN card * 2 + 8 ELSE 8200 END AS bytes
      FROM chunks)
    SELECT ctype, COUNT(*) AS n_containers,
      CAST(SUM(card) AS BIGINT) AS n_keys,
      CAST(SUM(bytes) AS BIGINT) AS est_bytes,
      CAST(SUM(card) * 8 AS BIGINT) AS uncompressed_bytes
    FROM typed GROUP BY ctype ORDER BY ctype"""

  // ---------------------------------------------------------------- q371

  /** Shuffle-partition advisor: per table, estimate the in-memory
    * row width from exact column stats (fixed type widths + exact avg
    * string length), total bytes, and the shuffle.partitions that
    * lands each partition at the 128 MiB target (ceil, floor 1) —
    * with a skew adjustment from the largest single key's share of
    * lineitem. The sizing arithmetic every Spark job does by hand,
    * as a query. One scan per table; everything is exact integers
    * until the final ceil.
    */
  def partitionAdvisor(li: DataFrame, orders: DataFrame,
      customer: DataFrame, events: DataFrame): DataFrame = {
    val target = 134217728L // 128 MiB
    def advise(name: String, df: DataFrame, fixedBytes: Int,
        strCols: Seq[String]) = {
      val strWidth = strCols.map(c => sum(length(col(c)).cast("long")))
        .reduceOption(_ + _).getOrElse(lit(0L))
      df.agg(count(lit(1)).as("n_rows"), strWidth.as("str_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"),
          (col("n_rows") * fixedBytes + coalesce(col("str_bytes"), lit(0L))
            + col("n_rows") * 20).as("est_bytes")) // 20 B row overhead
        .withColumn("advised_partitions",
          greatest(lit(1L), expr(s"(est_bytes + $target - 1) DIV $target")))
    }
    val base = advise("lineitem", li, 8 * 8, Seq("l_returnflag", "l_linestatus"))
      .unionAll(advise("orders", orders, 8 * 4,
        Seq("o_orderstatus", "o_orderpriority")))
      .unionAll(advise("customer", customer, 8 * 3,
        Seq("c_name", "c_mktsegment")))
      .unionAll(advise("events", events, 8 * 4,
        Seq("event_type", "props")))
    val skew = li.groupBy("l_orderkey").agg(count(lit(1)).as("c"))
      .agg(max("c").as("max_key"), sum("c").as("tot"))
      .select(expr("max_key * 10000 DIV tot").as("skew_bp"))
    base.crossJoin(broadcast(skew))
      .select(col("table_name"), col("n_rows"), col("est_bytes"),
        col("advised_partitions"), col("skew_bp"))
      .orderBy("table_name")
  }

  private val advisorOracle = """
    WITH li AS (
      SELECT 'lineitem' AS table_name, COUNT(*) AS n_rows,
        COUNT(*) * 64 + CAST(SUM(length(l_returnflag)
          + length(l_linestatus)) AS BIGINT) + COUNT(*) * 20 AS est_bytes
      FROM lineitem),
    ords AS (
      SELECT 'orders', COUNT(*),
        COUNT(*) * 32 + CAST(SUM(length(o_orderstatus)
          + length(o_orderpriority)) AS BIGINT) + COUNT(*) * 20
      FROM orders),
    cust AS (
      SELECT 'customer', COUNT(*),
        COUNT(*) * 24 + CAST(SUM(length(c_name)
          + length(c_mktsegment)) AS BIGINT) + COUNT(*) * 20
      FROM customer),
    ev AS (
      SELECT 'events', COUNT(*),
        COUNT(*) * 32 + CAST(SUM(length(event_type)
          + length(props)) AS BIGINT) + COUNT(*) * 20
      FROM events),
    base AS (
      SELECT * FROM li UNION ALL SELECT * FROM ords
      UNION ALL SELECT * FROM cust UNION ALL SELECT * FROM ev),
    skew AS (
      SELECT CAST(MAX(c) * 10000 // SUM(c) AS BIGINT) AS skew_bp FROM (
        SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey))
    SELECT table_name, n_rows, est_bytes,
      GREATEST(1, (est_bytes + 134217727) // 134217728)
        AS advised_partitions,
      skew_bp
    FROM base, skew ORDER BY table_name"""

  // ---------------------------------------------------------------- q380

  /** Skew-salt advisor: the top-10 hottest user keys with their row
    * share and the salt factor ceil(count / target) that spreads each
    * over evenly-loaded sub-keys, target = total rows / 32 planned
    * partitions. The planning table behind the q58 salted-aggregation
    * pattern — produced by one grouped count + a bounded top-k, never
    * by sampling. Exact integers throughout.
    */
  def saltAdvisor(events: DataFrame, partitions: Int = 32,
      top: Int = 10): DataFrame = {
    val counts = events.groupBy("user_id").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum("c").as("total"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .withColumn("target", greatest(lit(1L), expr(s"total DIV $partitions")))
      .select(col("user_id"), col("c").as("rows_for_key"),
        expr("c * 10000 DIV total").as("share_bp"),
        expr("(c + target - 1) DIV target").as("salt_factor"))
      .orderBy(col("rows_for_key").desc, col("user_id"))
      .limit(top)
  }

  private def saltOracle(partitions: Int = 32, top: Int = 10): String = s"""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total FROM counts),
    planned AS (
      SELECT user_id, c,
        GREATEST(1, total // $partitions) AS target, total
      FROM counts, tot)
    SELECT user_id, c AS rows_for_key,
      c * 10000 // total AS share_bp,
      (c + target - 1) // target AS salt_factor
    FROM planned ORDER BY c DESC, user_id LIMIT $top"""

  override def queries: Seq[Q] = Seq(
    Q("q380_salt_advisor",
      (s, d) => saltAdvisor(events(s, d)), Some(saltOracle())),
    Q("q371_partition_advisor",
      (s, d) => partitionAdvisor(lineitem(s, d), orders(s, d),
        customer(s, d), events(s, d)), Some(advisorOracle)),
    Q("q369_bitmap_containers",
      (s, d) => bitmapContainers(orders(s, d)), Some(bitmapOracle)),
    Q("q342_scd2_build",
      (s, d) => scd2Build(events(s, d)), Some(scd2Oracle)),
    Q("q177_time_travel",
      (s, d) => timeTravel(s, d), Some(timeTravelOracle)),
    Q("q142_table_diff",
      (s, d) => tableDiff(lineitem(s, d)), Some(tableDiffOracle)),
    Q("q129_zorder_layout",
      (s, d) => zorderLayout(lineitem(s, d)), Some(zorderOracle)),
    Q("q135_compaction_plan",
      (s, d) => compactionPlan(lineitem(s, d)), Some(compactionOracle)),
  )
}
