package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank centrality over the kNN similarity graph — the
  * graph-centrality pass a curation pipeline runs after building the
  * neighbor graph ([[Kmeans.knnGraph]]): high-rank documents sit in
  * dense, well-connected regions of embedding space (representative /
  * canonical exemplars), low-rank ones are peripheral. Used for
  * centrality-weighted sampling and representative-subset selection —
  * the same graph that drives dedup clustering drives selection.
  *
  * Scale shape — the canonical Pregel-on-DataFrames loop: edges are
  * partitioned by src and PERSISTED once (built once, reused every
  * iteration; at 100 TB the edge list is a bucketed table and this is
  * a metadata-only re-read); each iteration is ONE join (ranks ⋈ edges
  * on src, co-partitioned after the first shuffle, AQE reuses the
  * exchange) plus ONE groupBy(dst) sum — per-iteration cost is one
  * shuffle of the edge contributions, never a collect. Driver state is
  * zero; iteration count is fixed (5), so lineage stays shallow — a
  * production run at depth >20 would localCheckpoint per iteration.
  *
  * Oracle exactness — the stream_corr integer trick, applied to graph
  * iteration: ranks live in integer micro-units (r0 = 1e6 per node),
  * each contribution is the exact integer `(r * 85) div (100 * outdeg)`
  * (damping 0.85 folded into one truncating integer division — both
  * engines truncate positive quotients identically), and the gather is
  * an integer SUM — order-invariant, so partial aggregation / shuffle
  * order cannot perturb the result. Teleport adds the exact integer
  * 150000 (0.15 · 1e6). Nodes with no out-edges (singleton cells)
  * leak their damped mass — the standard "leak" variant, identical in
  * both engines. Overflow headroom: a node's rank is bounded by total
  * injected mass ≈ N · 1e6, so `r * 85` stays in Long for N < 1e11
  * nodes — beyond any corpus this engine targets (100 TB ≈ 1e10 docs).
  */
object PageRank {

  val Iters = 5
  /** Damping 0.85 and teleport 0.15 in micro-units. */
  val DampNum = 85L
  val DampDen = 100L
  val Teleport = 150000L
  val R0 = 1000000L

  /** Fixed-iteration integer PageRank over an arbitrary (src, dst)
    * edge list and (vec_id) node set — the kernel, fixture-testable. */
  private[graft] def rank(nodes: DataFrame, edges: DataFrame,
      iters: Int = Iters): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // built once, walked every iteration: persist cuts the (expensive)
    // upstream graph build out of the per-iteration lineage
    val e = edges.join(deg, "src").persist()
    val n = nodes.select(col("vec_id")).persist()
    var ranks = n.select(col("vec_id"), lit(R0).as("r"))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("vec_id"))
        .select(e("dst"),
          expr(s"(r * $DampNum) div ($DampDen * outdeg)").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      ranks = n.join(contrib, n("vec_id") === contrib("dst"), "left")
        .select(n("vec_id"),
          (lit(Teleport) + coalesce(col("s"), lit(0L))).as("r"))
    }
    ranks.select(col("vec_id"), col("r").as("rank_q"))
      .orderBy(desc("rank_q"), col("vec_id"))
  }

  /** Registered query: PageRank over the exact cell-blocked kNN graph
    * of the embeddings table. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = Kmeans.knnGraphCached(spark, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val nodes = Tables.load(spark, dir, "embeddings").select("vec_id")
    rank(nodes, edges)
  }

  /** [[Iters]] unrolled gather/apply rounds in the kernel's exact
    * integer arithmetic (`//` is DuckDB's truncating-for-positives
    * integer division, matching Spark's `div`), over whatever `prefix`
    * defines as CTEs `ed(src, dst)` and `nd(vec_id)` — shared by the
    * kNN-fixture oracle and the ANN-edge-artifact oracle. */
  private[similarity] def rankDuckSqlFrom(prefix: String): String = {
    val iterCtes = (1 to Iters).map { i =>
      s"""pr$i AS (
         |  SELECT nd.vec_id,
         |         CAST($Teleport + COALESCE(g.s, 0) AS BIGINT) AS r
         |  FROM nd LEFT JOIN (
         |    SELECT ed.dst,
         |           CAST(SUM((pr${i - 1}.r * $DampNum)
         |                    // ($DampDen * dg.outdeg)) AS BIGINT) AS s
         |    FROM ed JOIN dg ON ed.src = dg.src
         |            JOIN pr${i - 1} ON ed.src = pr${i - 1}.vec_id
         |    GROUP BY ed.dst) g ON nd.vec_id = g.dst)""".stripMargin
    }.mkString(",\n")
    s"""$prefix,
       |dg AS (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY src),
       |pr0 AS (SELECT vec_id, CAST($R0 AS BIGINT) AS r FROM nd),
       |$iterCtes
       |SELECT vec_id, r AS rank_q FROM pr$Iters
       |ORDER BY rank_q DESC, vec_id""".stripMargin
  }

  /** Oracle: the kNN-graph CTE chain ([[Kmeans.knnCtePrefix]]) feeding
    * the unrolled integer iteration. */
  def pageRankDuckSql: String = rankDuckSqlFrom(
    s"""${Kmeans.knnCtePrefix},
       |ed AS (
       |  SELECT vec_id AS src, nbr_id AS dst FROM r
       |  WHERE rn <= ${Kmeans.KnnK}),
       |nd AS (SELECT vec_id FROM e)""".stripMargin)
}
