package graft.layout

import graft.functions.VecFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators: write-time spatial clustering via the native
  * `zorder64` Morton expression.
  *
  * At 100 TB a tile table's dominant query is a square ROI predicate
  * (`tx BETWEEN a AND b AND ty BETWEEN c AND d`). Files written in
  * x-major order stripe each x-run across the full y extent, so every
  * file intersects every ROI and parquet min/max stats prune nothing.
  * Z-order clustering bounds both coordinates per file, so an ROI query
  * touches O(area/file_size) files — the difference between reading a
  * few files and scanning the table.
  *
  * The contract query compares the two layouts analytically on a 64×64
  * grid with deterministic NTILE file assignment (DuckDB-oracle
  * checked, bit-for-bit against a pure-SQL Morton pipeline); the
  * physical `repartitionByRange` write path is pinned by `ZOrderSpec`.
  */
object Layout {

  /** 64×64 grid, 16 files per layout, 16×16 ROI. Per (layout, file):
    * row count, bounding box, and whether the file touches the ROI —
    * the analytic form of "how many files would an ROI scan read". */
  private val zorderLayoutSparkSql: String =
    """WITH grid AS (
      |  SELECT t1.id AS x, t2.id AS y FROM range(64) t1 CROSS JOIN range(64) t2),
      |z AS (
      |  SELECT x, y, zorder64(CAST(x AS INT), CAST(y AS INT)) AS z FROM grid),
      |lay AS (
      |  SELECT 'zorder' AS layout, x, y, NTILE(16) OVER (ORDER BY z) AS f FROM z
      |  UNION ALL
      |  SELECT 'xmajor' AS layout, x, y, NTILE(16) OVER (ORDER BY x, y) AS f FROM z)
      |SELECT layout, CAST(f AS BIGINT) AS file, COUNT(*) AS n,
      |       MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax,
      |       CAST(MAX(CASE WHEN x BETWEEN 8 AND 23 AND y BETWEEN 40 AND 55
      |                THEN 1 ELSE 0 END) AS BIGINT) AS roi_touch
      |FROM lay GROUP BY layout, f ORDER BY layout, file""".stripMargin

  /** DuckDB spelling: `zorder64` inlined as the standard Morton bit
    * spread. The kernel's sign-bias + top-bit flip is order-equivalent
    * to the plain interleave for non-negative coordinates (all grid
    * coords here), and only the ORDER matters to NTILE. */
  private val zorderLayoutDuckSql: String =
    """WITH grid AS (
      |  SELECT CAST(t1.range AS BIGINT) AS x, CAST(t2.range AS BIGINT) AS y
      |  FROM range(64) t1, range(64) t2),
      |a AS (SELECT x, y, (x|(x<<8))&16711935 AS sx, (y|(y<<8))&16711935 AS sy
      |      FROM grid),
      |b AS (SELECT x, y, (sx|(sx<<4))&252645135 AS sx, (sy|(sy<<4))&252645135 AS sy
      |      FROM a),
      |c AS (SELECT x, y, (sx|(sx<<2))&858993459 AS sx, (sy|(sy<<2))&858993459 AS sy
      |      FROM b),
      |d AS (SELECT x, y, (sx|(sx<<1))&1431655765 AS sx, (sy|(sy<<1))&1431655765 AS sy
      |      FROM c),
      |z AS (SELECT x, y, sx + 2*sy AS z FROM d),
      |lay AS (
      |  SELECT 'zorder' AS layout, x, y, NTILE(16) OVER (ORDER BY z) AS f FROM z
      |  UNION ALL
      |  SELECT 'xmajor' AS layout, x, y, NTILE(16) OVER (ORDER BY x, y) AS f FROM z)
      |SELECT layout, CAST(f AS BIGINT) AS file, COUNT(*) AS n,
      |       MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax,
      |       CAST(MAX(CASE WHEN x BETWEEN 8 AND 23 AND y BETWEEN 40 AND 55
      |                THEN 1 ELSE 0 END) AS BIGINT) AS roi_touch
      |FROM lay GROUP BY layout, f ORDER BY layout, file""".stripMargin

  def zorderLayout(spark: SparkSession): DataFrame = {
    VecFunctions.register(spark)
    spark.sql(zorderLayoutSparkSql)
  }

  /** Small-file compaction — the other half of the layout lifecycle.
    * Streaming sinks and per-task writers fragment a table into files
    * far below the row-group sweet spot; at 100 TB that turns every scan
    * into millions of opens and footer reads. Compaction rewrites the
    * table into ~targetBytes files while PRESERVING the clustering key
    * order (`repartitionByRange` + sort on the given columns), so the
    * rewrite keeps — not destroys — min/max pruning. Returns
    * (filesBefore, filesAfter). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long, orderCols: Seq[String]): (Long, Long) = {
    def files(d: String): Array[java.io.File] =
      new java.io.File(d).listFiles().filter(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    val before = files(inDir)
    val totalBytes = before.map(_.length()).sum
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .write.mode("overwrite").parquet(outDir)
    (before.length.toLong, files(outDir).length.toLong)
  }

  /** Fixed staging paths so the DuckDB oracle can re-derive the file
    * counts and the content checksum from the same directories. */
  private val CompactFragPath =
    s"${sys.props("java.io.tmpdir")}/graft_compact_frag_parquet"
  private val CompactOutPath =
    s"${sys.props("java.io.tmpdir")}/graft_compact_out_parquet"

  /** Contract query: fragment a z-ordered grid into 64 shard files,
    * compact, report the shape. DuckDB recomputes all four columns from
    * the same staged directories (file counts via `filename=true`,
    * content via `bit_xor(z)`), so the fragment write, the compaction
    * rewrite, and the content preservation are all cross-engine
    * checked; per-file z ordering is pinned by `ZOrderSpec`. */
  def compactQuery(spark: SparkSession): DataFrame = {
    VecFunctions.register(spark)
    import spark.implicits._
    val frag = CompactFragPath
    val out = CompactOutPath
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
      .toDF("tx", "ty")
      .selectExpr("tx", "ty", "zorder64(tx, ty) AS z")
    grid.repartition(64).write.mode("overwrite").parquet(frag)
    val (nBefore, nAfter) = compact(spark, frag, out, 64 * 1024, Seq("z"))
    // bit_xor as content checksum: z codes sit near 2^62, a SUM overflows
    val check = spark.read.parquet(out)
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(z)").as("z_xor"))
      .withColumn("files_before", lit(nBefore))
      .withColumn("files_after", lit(nAfter))
    check.select("files_before", "files_after", "n_rows", "z_xor")
  }

  private val compactDuckSql: String =
    s"""WITH b AS (
       |  SELECT COUNT(DISTINCT filename) AS files_before
       |  FROM read_parquet('$CompactFragPath/*.parquet', filename=true)),
       |a AS (
       |  SELECT COUNT(DISTINCT filename) AS files_after,
       |         COUNT(*) AS n_rows, bit_xor(z) AS z_xor
       |  FROM read_parquet('$CompactOutPath/*.parquet', filename=true))
       |SELECT b.files_before, a.files_after, a.n_rows, a.z_xor
       |FROM b, a""".stripMargin

  // ---- bucketed standing layout + exchange-free join --------------------

  // one build per (application, dir): the standing tables are the
  // artifact, registered in the shared catalog so every session of the
  // application sees them (no executor storage to release on evict —
  // external tables are plain files)
  private val bucketedBuilt = new graft.BoundedCache[String](
    max = 8, onEvict = _ => ())

  /** Register `orders` / `lineitem` as standing bucketed tables (8
    * buckets on the join key, one file per bucket) rooted under the JVM
    * tmpdir, once per (application, dir). */
  private def bucketedTables(spark: SparkSession, dir: String): (String, String) = {
    val tag = java.lang.Integer.toHexString(dir.hashCode) // unsigned hex, fs-safe
    val (ot, lt) = (s"orders_bj_$tag", s"lineitem_bj_$tag")
    bucketedBuilt.get(graft.BoundedCache.key(spark, dir)) {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_bucketed_$tag").toString
      Seq(ot -> "orders", lt -> "lineitem").foreach { case (name, src) =>
        spark.sql(s"DROP TABLE IF EXISTS $name")
        val path = s"$root/$name"
        val f = new java.io.File(path)
        if (f.exists()) {
          java.nio.file.Files.walk(f.toPath)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.delete(p))
        }
        val key = if (src == "orders") "o_orderkey" else "l_orderkey"
        graft.Tables.load(spark, dir, src)
          .repartition(8, col(key)) // one writer task per bucket -> one file per bucket
          .write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", path)
          .saveAsTable(name)
      }
      "built"
    }
    (ot, lt)
  }

  /** Exchange-free fact-fact join over the standing bucketed layout.
    *
    * At 100 TB, `orders ⋈ lineitem ON orderkey` is the join every
    * report runs; shuffling both sides every time is the single
    * largest avoidable exchange in the warehouse. Bucketing both
    * tables by the join key at WRITE time (same bucket count, sorted
    * within buckets) makes every subsequent join co-located: the scan
    * itself satisfies the join's distribution requirement, so the only
    * exchange left in this query is the final 5-group aggregate
    * (`BucketedJoinSpec` asserts exactly that: SortMergeJoin present,
    * one Exchange total, zero below the join). The `merge` hint pins
    * SMJ so the demo doesn't degrade to a broadcast that would hide
    * the layout's effect.
    *
    * Revenue is integer-quantized per row before summing (cents as
    * BIGINT) so the aggregate is exact under any partition order —
    * the cross-engine-stable spelling. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = bucketedTables(spark, dir)
    spark.table(ot)
      .join(spark.table(lt).hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
      .orderBy("priority")
  }

  private val bucketedJoinDuckSql: String =
    """SELECT o_orderpriority AS priority, COUNT(*) AS n,
      |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
      |                AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- date-partitioned standing layout + dynamic partition pruning ------

  private val dppBuilt = new graft.BoundedCache[String](max = 8, onEvict = _ => ())

  /** Standing `events` layout partitioned by event day (hive-style
    * `d=YYYY-MM-DD/` directories), built once per (application, dir) — the
    * canonical fact-table layout at 100 TB, where day is THE pruning
    * dimension. One writer task per day → one file per partition. */
  private[graft] def partitionedEvents(spark: SparkSession, dir: String): String = {
    val tag = java.lang.Integer.toHexString(dir.hashCode)
    val path = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_dpp_$tag", "events_by_day").toString
    dppBuilt.get(graft.BoundedCache.key(spark, dir)) {
      graft.Tables.load(spark, dir, "events")
        .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
        .repartition(col("d"))
        .write.mode("overwrite").partitionBy("d").parquet(path)
      "built"
    }
    path
  }

  /** Dynamic partition pruning over the standing layout: the fact side
    * is partitioned on `d`, the dim side (top-3 purchase days, an
    * aggregate whose result is unknowable at plan time) broadcasts, and
    * Catalyst turns the broadcast's build keys into a runtime PARTITION
    * filter on the fact scan — only 3 of ~N day directories are ever
    * opened, with zero changes to the query text. This is the scan-side
    * win partitioned warehouses live on; `BucketingSpec` asserts the
    * `dynamicpruning` expression is present in the fact scan's partition
    * filters. Day ranking uses per-row integer-quantized cents so the
    * top-3 cut is engine-exact (no float-sum knife edges). */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.parquet(partitionedEvents(spark, dir))
    val dim = graft.Tables.load(spark, dir, "events")
      .where(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("pv"))
      .orderBy(desc("pv"), col("d")).limit(3)
    fact.join(broadcast(dim.select("d")), "d")
      .groupBy("d")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("v_cents"))
      .orderBy("d")
  }

  private val dppDuckSql: String =
    """WITH e AS (
      |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
      |         event_type, value
      |  FROM events),
      |top AS (
      |  SELECT d, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS pv
      |  FROM e WHERE event_type = 'purchase'
      |  GROUP BY d ORDER BY pv DESC, d LIMIT 3)
      |SELECT e.d, COUNT(*) AS n,
      |       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS v_cents
      |FROM e JOIN top USING (d)
      |GROUP BY e.d ORDER BY e.d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_dpp" -> ((s, d) => dppJoin(s, d)),
    "layout_zorder" -> ((s, _) => zorderLayout(s)),
    "layout_compact" -> ((s, _) => compactQuery(s)),
    "layout_bucketed_join" -> ((s, d) => bucketedJoin(s, d)))

  val oracleSql: Map[String, String] = Map(
    "layout_dpp" -> dppDuckSql,
    "layout_compact" -> compactDuckSql,
    "layout_zorder" -> zorderLayoutDuckSql,
    "layout_bucketed_join" -> bucketedJoinDuckSql)
}
