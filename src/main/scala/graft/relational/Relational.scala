package graft.relational

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SURVEY §2.11 relational corpus (Q01–Q26): the general query surface the
  * engine must support alongside the raster operators. All of these compile
  * to unmodified Catalyst plans — filters/projections push into the parquet
  * scan, small-dim joins broadcast, aggregates run partial/final — which is
  * the point: Spark's optimizer does the relational work; the custom code in
  * this project is the raster/LLM-pipeline surface.
  *
  * Each entry carries the Spark SQL and (where oracle-checkable) the DuckDB
  * spelling. Normalization for hash stability (SURVEY §2.11): total ORDER BY,
  * ROUND(double_agg, 2), dates via CAST, bigint casts on scalar-fn outputs.
  */
object Relational {

  /** (name, sparkSql, Option(duckdbSql)); None duckSql means same string. */
  private case class Q(name: String, spark: String, duck: Option[String] = None)

  /** Binned scale spelling of `q38_window_distribution` — the exact
    * query's `PARTITION BY o_orderpriority` has FIVE values, so each
    * ordered window is one per-task spill-backed sort of N/5 rows
    * (~20 TB per task at 100 TB; 26.8 s measured at sf10). Same
    * treatment as `stats_gini_binned` (relational/Stats.scala): prices
    * quantize to integer cents and bucket into 64 equi-width bins per
    * priority, and quartile/percent_rank/cume_dist come off the
    * per-priority bin histogram — the only ordered window runs over
    * ≤ 64 rows per priority, and the only row-sized work is two
    * column-pruned scans plus a map-side partial aggregate.
    *
    * The output is the ~320-row DISTRIBUTION TABLE (per-bin count +
    * statistics), which carries the full binned information: the
    * exact query's corpus-sized per-row output is itself the thing
    * that cannot ship at 100 TB (a first per-row spelling here kept
    * the statistics cheap but paid a corpus-sized ordered output —
    * 26 s at sf10, SLOWER than exact; the measured lesson), and any
    * row's statistics are one broadcast-join lookup into this table
    * (exactly the `b JOIN g` equi-join already inside the query).
    *
    * Semantics: statistics of the BIN, i.e. ties at bin granularity —
    * pr = rows-strictly-below-bin/(n−1), cd = rows-through-bin/n,
    * quartile = 1 + ⌊4·pr·(n−1)/n⌋. Emitted as exact e6-microunit
    * BIGINTs (pure integer div on non-negative operands, where Spark's
    * `div` and DuckDB's `//` agree bit-for-bit) — no doubles anywhere.
    * `RelationalBinnedSpec` pins the binned-vs-exact gap (≤ the
    * largest bin's row share) and the bin-sized window input. */
  private[graft] def q38BinnedSparkSqlForTest: String =
    q38BinnedSql("div")

  private def q38BinnedSql(idiv: String): String =
    s"""WITH q AS (
       |  SELECT o_orderpriority AS pri,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
       |  FROM orders),
       |r AS (
       |  SELECT pri, CAST(MIN(v) AS BIGINT) AS lo,
       |         CAST(MAX(v) AS BIGINT) AS hi
       |  FROM q GROUP BY pri),
       |g AS (
       |  -- hint pins the 5-row extents as the broadcast side (the
       |  -- stats_gini_binned lesson); DuckDB reads it as a comment
       |  SELECT /*+ BROADCAST(r) */ q.pri,
       |         ((q.v - r.lo) * 64) $idiv (r.hi - r.lo + 1) AS bin,
       |         CAST(COUNT(*) AS BIGINT) AS c
       |  FROM q JOIN r ON q.pri = r.pri
       |  GROUP BY 1, 2),
       |w AS (
       |  SELECT pri, bin, c,
       |         CAST(SUM(c) OVER (PARTITION BY pri ORDER BY bin
       |              ROWS UNBOUNDED PRECEDING) - c AS BIGINT) AS clt,
       |         CAST(SUM(c) OVER (PARTITION BY pri) AS BIGINT) AS n
       |  FROM g)
       |SELECT pri AS o_orderpriority, bin, c AS n_rows,
       |       CAST(1 + (4 * clt) $idiv n AS BIGINT) AS quartile,
       |       CAST((clt * 1000000) $idiv GREATEST(n - 1, 1)
       |            AS BIGINT) AS pr_e6,
       |       CAST(((clt + c) * 1000000) $idiv n AS BIGINT) AS cd_e6
       |FROM w ORDER BY o_orderpriority, bin""".stripMargin

  private val qs: Seq[Q] = Seq(
    // ORDER BY spans ALL output columns: the synthetic lineitem has
    // duplicate (orderkey, linenumber) pairs, and an order-sensitive
    // oracle compare must not depend on which engine breaks the tie
    // (exposed when the split-starvation guard repartitioned the scan)
    Q("q01_scan_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin),

    Q("q02_predicate_combo",
      """SELECT o_orderkey FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice BETWEEN 1000 AND 5000
        |ORDER BY o_orderkey""".stripMargin),

    Q("q03_hash_agg",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       ROUND(SUM(l_extendedprice), 2) AS rev
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Q("q04_agg_having",
      """SELECT o_custkey, COUNT(*) AS n FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) >= 5 ORDER BY o_custkey""".stripMargin),

    Q("q05_count_distinct",
      "SELECT COUNT(DISTINCT l_suppkey) AS n FROM lineitem"),

    Q("q06_inner_join",
      """SELECT c.c_custkey, ROUND(SUM(o.o_totalprice), 2) AS tot
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin),

    Q("q07_multi_join",
      """SELECT o.o_orderkey,
        |       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey ORDER BY rev DESC, o.o_orderkey LIMIT 20""".stripMargin),

    Q("q08_left_join",
      """SELECT c.c_custkey, COUNT(o.o_orderkey) AS n
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin),

    Q("q09_semi_join",
      """SELECT p_partkey FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY p_partkey""".stripMargin),

    // filtered subquery so the result is non-empty at every SF (an
    // all-orders NOT IN matches nothing — the oracle row was vacuous)
    Q("q10_anti_join",
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 350000)
        |ORDER BY c_custkey""".stripMargin),

    Q("q11_broadcast_join",
      """SELECT n.n_name, COUNT(*) AS n
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),

    Q("q12_theta_join",
      """SELECT r1.r_regionkey AS k1, r2.r_regionkey AS k2
        |FROM region r1 JOIN region r2 ON r1.r_regionkey < r2.r_regionkey
        |ORDER BY k1, k2""".stripMargin),

    Q("q13_scalar_subquery",
      """SELECT o_orderkey FROM orders
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    Q("q14_correlated_subquery",
      """SELECT o_orderkey FROM orders o
        |WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),

    Q("q15_rollup",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    Q("q16_cube",
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS q
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    Q("q17_window_rank",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin),

    Q("q38_window_distribution",
      """SELECT o_orderpriority, o_orderkey,
        |       NTILE(4) OVER w AS quartile,
        |       ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        |       ROUND(CUME_DIST() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, pr, o_orderkey""".stripMargin),

    // Binned scale spelling of q38 — see q38BinnedSql.
    Q("q38_window_distribution_binned",
      q38BinnedSparkSqlForTest, Some(q38BinnedSql("//"))),

    // Snapshot diff (CDC extraction): classify rows of two table
    // versions as added/removed/changed via one full-outer join on the
    // key — the change-set computation every incremental pipeline runs
    // before shipping a delta downstream. v2 is derived from v1 with
    // deterministic edits (mod-97 deletes, mod-53 price bumps, mod-89
    // key-shifted inserts) so the diff is non-vacuous at every SF.
    // Prices compare as integer cents: ROUND-to-2-decimals differs
    // between engines at the ulp, integer quantization does not. At
    // scale the join shuffles both snapshots on the key — or neither,
    // when snapshots live in the bucketed layout (layout_bucketed_join).
    Q("q39_snapshot_diff",
      """WITH v1 AS (
        |  SELECT o_orderkey AS k,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v2 AS (
        |  SELECT k, CASE WHEN k % 53 = 1 THEN cents + 500 ELSE cents END AS cents
        |  FROM v1 WHERE k % 97 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT MAX(o_orderkey) FROM orders) AS k, cents
        |  FROM v1 WHERE k % 89 = 0)
        |SELECT CASE WHEN a.k IS NULL THEN 'added'
        |            WHEN b.k IS NULL THEN 'removed'
        |            ELSE 'changed' END AS op,
        |       COALESCE(a.k, b.k) AS k, a.cents AS old_cents,
        |       b.cents AS new_cents
        |FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
        |WHERE a.k IS NULL OR b.k IS NULL OR a.cents <> b.cents
        |ORDER BY op, k""".stripMargin),

    Q("q18_window_frame",
      """SELECT o_orderkey,
        |       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Q("q19_window_lag",
      """SELECT event_id, user_id,
        |       LAG(event_type) OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id) AS prev
        |FROM events ORDER BY event_id""".stripMargin,
      Some("""SELECT event_id, user_id,
        |       LAG(event_type) OVER (PARTITION BY user_id
        |             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |FROM events ORDER BY event_id""".stripMargin)),

    Q("q20_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    Q("q21_intersect",
      """SELECT c_nationkey AS k FROM customer
        |INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k""".stripMargin),

    // custkey domain, filtered right side → non-empty at every SF
    // (customer-vs-supplier nationkeys fully overlap — vacuous oracle row)
    Q("q21_except",
      """SELECT o_custkey AS k FROM orders
        |EXCEPT SELECT c_custkey AS k FROM customer
        |        WHERE c_mktsegment = 'BUILDING' ORDER BY k""".stripMargin),

    Q("q21_union_all",
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  UNION ALL SELECT s_nationkey AS k FROM supplier) t
        |GROUP BY k ORDER BY k""".stripMargin),

    Q("q22_scalar_fns",
      """SELECT o_orderkey, UPPER(o_orderpriority) AS p,
        |       CAST(LENGTH(o_orderstatus) AS BIGINT) AS ln,
        |       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        |       ROUND(SQRT(o_totalprice), 2) AS sq
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Q("q23_array_ops",
      """SELECT vec_id, CAST(SIZE(embedding) AS BIGINT) AS n,
        |       ROUND(SQRT(AGGREGATE(embedding, CAST(0.0 AS DOUBLE),
        |             (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 2) AS nrm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
      Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n,
        |       ROUND(SQRT(list_sum(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 2) AS nrm
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Q("q24_json_ops",
      """SELECT event_id, GET_JSON_OBJECT(props, '$.k') AS k
        |FROM events ORDER BY event_id""".stripMargin,
      Some("""SELECT event_id, json_extract_string(props, '$.k') AS k
        |FROM events ORDER BY event_id""".stripMargin)),

    Q("q25_dedup_exact",
      """SELECT lang, COUNT(*) AS n FROM (
        |  SELECT DISTINCT text, lang FROM documents) t
        |GROUP BY lang ORDER BY lang""".stripMargin),

    Q("q26_event_time_window",
      """SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n,
        |       ROUND(SUM(value), 2) AS v
        |FROM events GROUP BY CAST(ts AS DATE), event_type
        |ORDER BY d, event_type""".stripMargin),

    // Sliding event-time window via Spark's native window() generator:
    // each event lands in length/slide = 2 overlapping windows. The oracle
    // derives the same window starts with epoch arithmetic (43200 s slide;
    // any midnight is 12 h-aligned, so both engines agree on boundaries).
    Q("q31_sliding_window",
      """SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS ws,
        |       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        |FROM events
        |GROUP BY window(ts, '1 day', '12 hours'), event_type
        |ORDER BY ws, event_type""".stripMargin,
      Some("""SELECT strftime(make_timestamp(
        |         ((CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 43200
        |           - k.k) * 43200) * 1000000), '%Y-%m-%d %H:%M:%S') AS ws,
        |       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        |FROM events, (VALUES (0), (1)) k(k)
        |GROUP BY 1, event_type
        |ORDER BY ws, event_type""".stripMargin)),

    // Session window via Spark's native session_window() (gap-merged
    // event-time sessions — the batch twin of the flatMapGroupsWithState
    // sessionizer). Timestamps floored to whole seconds on both sides so
    // the gap comparison is identical; a gap of EXACTLY 1800 s extends
    // the session (Spark merges when the next event is <= last + gap —
    // observed at sf0.1, where an exactly-gap pair exists), hence the
    // strict > in the oracle's session-break rule.
    Q("q32_session_window",
      """SELECT user_id,
        |       CAST(unix_timestamp(session_window.start) AS BIGINT) AS start_sec,
        |       COUNT(*) AS n
        |FROM (SELECT user_id, timestamp_seconds(unix_timestamp(ts)) AS tss
        |      FROM events) e
        |GROUP BY user_id, session_window(tss, '30 minutes')
        |ORDER BY user_id, start_sec""".stripMargin,
      Some("""WITH o AS (
        |  SELECT user_id, event_id,
        |         CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
        |  FROM events),
        |e AS (
        |  SELECT user_id, event_id, sec,
        |         LAG(sec) OVER (PARTITION BY user_id
        |                        ORDER BY sec, event_id) AS prev
        |  FROM o),
        |s AS (
        |  SELECT user_id, sec,
        |         SUM(CASE WHEN prev IS NULL OR sec - prev > 1800
        |             THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM e)
        |SELECT user_id, CAST(MIN(sec) AS BIGINT) AS start_sec, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_sec""".stripMargin)),

    // Spark's native PIVOT; the oracle uses portable conditional
    // aggregation (the same physical shape Catalyst lowers PIVOT to)
    Q("q30_pivot",
      """SELECT * FROM (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls, l_extendedprice AS p
        |  FROM lineitem)
        |PIVOT (ROUND(SUM(p), 2) FOR ls IN ('F' AS f, 'O' AS o))
        |ORDER BY rf""".stripMargin,
      Some("""SELECT l_returnflag AS rf,
        |  ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS f,
        |  ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS o
        |FROM lineitem GROUP BY l_returnflag ORDER BY rf""".stripMargin))
  )

  /** Salted join (skew mitigation, `Skew.saltedJoin`) — result must be
    * identical to the plain join, which is exactly what the oracle
    * checks. */
  private def saltedJoinQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = Tables.load(s, d, "lineitem")
    val sup = Tables.load(s, d, "supplier")
    Skew.saltedJoin(li, sup, "l_suppkey", "s_suppkey", salt = 8)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("rev"))
      .orderBy("s_suppkey")
  }

  private val saltedJoinOracle: String =
    """SELECT s_suppkey, COUNT(*) AS n,
      |       ROUND(SUM(l_extendedprice), 2) AS rev
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin

  /** CDC upsert (MERGE INTO shape): a deterministic updates batch —
    * price-bumped rows for keys ≡3 (mod 10) plus brand-new keys shifted
    * by 10M — merged into `orders`. Implemented as
    * `base ANTI-JOIN update-keys UNION ALL updates`: for whole-row
    * upserts this is equivalent to the full-outer-join MERGE but the
    * small side BROADCASTS, so the 100 TB base is never shuffled (a
    * full outer join cannot broadcast in Spark). Summarized per key
    * bucket so the oracle covers every merged row. */
  private def upsertQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Tables.load(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val updates = base.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
      .unionByName(base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val merged = base.join(
        broadcast(updates.select("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .unionByName(updates)
    merged.groupBy((col("o_orderkey") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("tot"))
      .orderBy("bucket")
  }

  private val upsertOracle: String =
    """WITH upd AS (
      |  SELECT o_orderkey, o_custkey,
      |         ROUND(o_totalprice * 1.1, 2) AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |merged AS (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice FROM upd)
      |SELECT o_orderkey % 7 AS bucket, COUNT(*) AS n,
      |       ROUND(SUM(o_totalprice), 2) AS tot
      |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Incremental aggregate maintenance (materialized-view refresh): the
    * base batch's per-key (count, sum) partials merge with the delta
    * batch's partials — count and sum are algebraic, so refresh cost is
    * O(delta), never a base rescan (at scale the base partials are the
    * stored MV; here both derive from `events` so the oracle can check
    * the merge against a full recompute). */
  private def incrementalAggQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(s, d, "events")
    def partial(df: DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
    val basePart = partial(ev.where(col("event_id") % 5 =!= 0))
    val deltaPart = partial(ev.where(col("event_id") % 5 === 0))
    basePart.unionByName(deltaPart)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"), round(sum(col("s")), 2).as("v"))
      .orderBy("event_type")
  }

  private val incrementalAggOracle: String =
    """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Retention cohort analysis — the canonical product-analytics shape:
    * users cohorted by first-activity day, activity counted per
    * (cohort, day-offset) cell. Two aggregations plus one join; the
    * cohort table is user-count-sized, so at scale it broadcasts back
    * onto the activity stream — the event table never self-joins. */
  private val retentionSparkSql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |c AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY user_id)
      |SELECT c.cohort,
      |       CAST(datediff(e.d, c.cohort) AS BIGINT) AS day_offset,
      |       COUNT(*) AS n_users
      |FROM e JOIN c ON e.user_id = c.user_id
      |GROUP BY c.cohort, datediff(e.d, c.cohort)
      |ORDER BY cohort, day_offset""".stripMargin

  private val retentionOracle: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |c AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY user_id)
      |SELECT c.cohort,
      |       CAST(datediff('day', c.cohort, e.d) AS BIGINT) AS day_offset,
      |       COUNT(*) AS n_users
      |FROM e JOIN c ON e.user_id = c.user_id
      |GROUP BY c.cohort, datediff('day', c.cohort, e.d)
      |ORDER BY cohort, day_offset""".stripMargin

  /** Explicit GROUPING SETS with grouping_id — the grouping shape
    * rollup (q15) and cube (q16) don't cover: a hand-picked set of
    * grouping combinations, disambiguated by GROUPING() flags (the
    * NULL-vs-aggregated distinction every BI layer needs). One pass,
    * partial-agg per set; identical SQL runs in both engines. */
  private val groupingSetsSql: String =
    """SELECT o_orderpriority, o_orderstatus,
      |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
      |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
      |       COUNT(*) AS n,
      |       -- ROUND before CAST: Spark's double->BIGINT cast truncates,
      |       -- DuckDB's rounds; rounding first makes them agree
      |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS cents
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |                        (o_orderpriority), (o_orderstatus))
      |ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""".stripMargin

  /** Ordered funnel with a bounded conversion window: first view, then
    * earliest click within 1 day of it, then earliest purchase within
    * 1 day of that click. Per-user stage times are MIN-aggregates over
    * filtered event streams (never a sequential scan per user); the
    * user-stage tables are user-count-sized, so each successive stage
    * join broadcasts at scale. Identical SQL runs in both engines. */
  private val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ets FROM events),
      |v AS (SELECT user_id, MIN(ets) AS t1 FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ets) AS t2
      |      FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click'
      |        AND e.ets > v.t1 AND e.ets <= v.t1 + INTERVAL 1 DAY
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ets) AS t3
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase'
      |        AND e.ets > c.t2 AND e.ets <= c.t2 + INTERVAL 1 DAY
      |      GROUP BY e.user_id)
      |SELECT 'stage1_view' AS stage, COUNT(*) AS n_users FROM v
      |UNION ALL SELECT 'stage2_click', COUNT(*) FROM c
      |UNION ALL SELECT 'stage3_purchase', COUNT(*) FROM p
      |ORDER BY stage""".stripMargin

  /** Batch gap-based sessionization — the canonical clickstream shape
    * the streaming sessionizers (stream_sessionize/_ttl) compute
    * incrementally: a new session starts when a user's inter-event gap
    * exceeds 12 h. One shuffle on user_id; the lag window, the
    * cumulative session-id sum, the per-session aggregate, and the
    * per-user rollup all ride the SAME hash partitioning (Catalyst
    * reuses the exchange), and the output is user-count-sized — no
    * event self-join anywhere. Timestamps are compared as exact epoch
    * micros so both engines see identical integers (events.ts is
    * parquet NANOS; Spark's reader and DuckDB's TIMESTAMP cast both
    * floor to micros). `ts` arrives TIMESTAMP_NTZ, so the micros are
    * wall-clock diffs against the NTZ epoch — session-timezone-proof
    * in both engines (DuckDB TIMESTAMP is naive; `epoch_us` is the
    * same wall-clock arithmetic). */
  private def sessionizeSql(tusExpr: String): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, $tusExpr AS tus FROM events),
       |g AS (
       |  SELECT user_id, event_id, tus,
       |         CASE WHEN lag(tus) OVER w IS NULL
       |                OR tus - lag(tus) OVER w > 43200000000 THEN 1
       |              ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
       |s AS (
       |  SELECT user_id, tus,
       |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |                          ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM g),
       |x AS (
       |  SELECT user_id, sid, COUNT(*) AS n, MAX(tus) - MIN(tus) AS span
       |  FROM s GROUP BY user_id, sid)
       |SELECT user_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       |       CAST(SUM(n) AS BIGINT) AS n_events,
       |       CAST(MAX(n) AS BIGINT) AS max_events,
       |       CAST(MAX(span) AS BIGINT) AS max_span_us
       |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin

  private[graft] val sessionizeSparkSql: String =
    sessionizeSql(
      "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")

  private val sessionizeOracle: String =
    sessionizeSql("epoch_us(CAST(ts AS TIMESTAMP))")

  /** SCD type-2 history build — the warehouse versioning shape
    * q33_upsert (latest-only) doesn't cover: every change to an entity
    * (user_id, event_type) becomes a version row with a
    * [valid_from, valid_to) interval, the open version flagged
    * current. One shuffle on the entity key; the interval derivation
    * is a single lead() window on that same partitioning. Epoch-micro
    * arithmetic is NTZ-wall-clock in both engines (the q41
    * convention); the open interval's valid_to is the 9999-12-31
    * sentinel micros, spelled as the same literal. */
  private def scd2Sql(tusExpr: String): String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, event_id, value, $tusExpr AS tus
       |  FROM events),
       |s AS (
       |  SELECT user_id, event_type, event_id, value, tus,
       |         lead(tus) OVER (PARTITION BY user_id, event_type
       |                         ORDER BY tus, event_id) AS next_tus
       |  FROM e)
       |SELECT user_id, event_type, event_id AS version_id,
       |       tus AS valid_from,
       |       COALESCE(next_tus, 253402214400000000) AS valid_to,
       |       CAST(CASE WHEN next_tus IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |         AS is_current,
       |       value
       |FROM s ORDER BY user_id, event_type, valid_from, version_id""".stripMargin

  private val scd2SparkSql: String = scd2Sql(
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")

  // shared with the standing form (stream_scd2): one batch pass and the
  // streaming fold must land the identical history
  private[graft] val scd2Oracle: String =
    scd2Sql("epoch_us(CAST(ts AS TIMESTAMP))")

  private val pivotTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** PIVOT — the wide-table reshape every BI export runs: daily event
    * counts, one column per event type. The Spark side uses the REAL
    * RelationalGroupedDataset.pivot operator with the value list
    * pinned (no extra distinct-scan pass, and the output schema is
    * static — the form that scales); Catalyst compiles it to the same
    * single-pass CASE aggregation the oracle spells explicitly. */
  private def pivotQuery(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    spark.table("events")
      .selectExpr("CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d", "event_type")
      .groupBy("d").pivot("event_type", pivotTypes).count()
      .na.fill(0L, pivotTypes)
      .orderBy("d")
  }

  private val pivotOracle: String =
    s"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |${pivotTypes.map(t =>
        s"  CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) " +
          s"AS BIGINT) AS $t").mkString(",\n")}
       |FROM events GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
       |ORDER BY d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> Tables.sql(q.spark)).toMap +
      ("q27_skew_salted_join" -> (saltedJoinQuery _)) +
      ("q41_sessionize" -> Tables.sql(sessionizeSparkSql)) +
      ("q42_pivot" -> (pivotQuery _)) +
      ("q43_scd2" -> Tables.sql(scd2SparkSql)) +
      ("q33_upsert" -> (upsertQuery _)) +
      ("q34_incremental_agg" -> (incrementalAggQuery _)) +
      ("q35_grouping_sets" -> Tables.sql(groupingSetsSql)) +
      ("q36_retention_cohort" -> Tables.sql(retentionSparkSql)) +
      ("q37_funnel" -> Tables.sql(funnelSql)) ++
      TemporalJoins.queries

  val oracleSql: Map[String, String] =
    qs.map(q => q.name -> q.duck.getOrElse(q.spark)).toMap +
      ("q27_skew_salted_join" -> saltedJoinOracle) +
      ("q41_sessionize" -> sessionizeOracle) +
      ("q42_pivot" -> pivotOracle) +
      ("q43_scd2" -> scd2Oracle) +
      ("q33_upsert" -> upsertOracle) +
      ("q34_incremental_agg" -> incrementalAggOracle) +
      ("q35_grouping_sets" -> groupingSetsSql) +
      ("q36_retention_cohort" -> retentionOracle) +
      ("q37_funnel" -> funnelSql) ++
      TemporalJoins.oracleSql
}
