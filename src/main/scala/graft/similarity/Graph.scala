package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structural graph analytics over the kNN similarity graph
  * ([[Kmeans.knnGraph]]) beyond centrality ([[PageRank]]): connected
  * components (the transitive closure of "is a near neighbor" — the
  * cluster inventory a dedup/diversity pass reads) and triangle/
  * clustering statistics (how clique-like the neighborhoods are — high
  * clustering means redundant near-duplicate pockets, low means a
  * stringy manifold).
  *
  * Scale shapes:
  *   - Components run converging min-label propagation: per iteration
  *     ONE join (labels ⋈ edges, both hash-partitioned on the join key,
  *     AQE reuses the exchange) + ONE groupBy min — the Pregel gather/
  *     apply step as DataFrames. Driver state per iteration is a single
  *     aggregated long (the changed-label count), never node data; the
  *     loop materializes each frontier with persist() so lineage stays
  *     one-deep. At 100 TB scale the same loop ships with the
  *     alternating large-star/small-star optimization for skewed
  *     components; the kNN graph's components are cell-bounded (edges
  *     are cell-local by construction), so plain propagation converges
  *     in a handful of rounds here.
  *   - Triangles canonicalize each undirected edge once (lo < hi) and
  *     count closed wedges with two hash joins — the standard
  *     edge-iterator algorithm. Orientation by vertex id bounds the
  *     duplicate factor to exactly 1 per triangle; a power-law graph at
  *     scale would orient low-degree → high-degree instead (same plan,
  *     different sort key) to keep the wedge fan-out per task bounded.
  *
  * Oracle exactness: labels and counts are integers end-to-end (no
  * floating point anywhere except the final clustering coefficient,
  * spelled identically cross-engine), and converged min-labels are a
  * well-defined fixpoint — both engines agree however many rounds each
  * takes to reach it (DuckDB runs a recursive CTE to ITS fixpoint,
  * Spark loops to ITS; the fixpoint is the same object).
  */
object Graph {

  /** Scale-adaptive shuffle width for the iterative kernels: an
    * O(log n)-round loop pays every exchange 6+ times, so partition
    * count follows the FRONTIER size (~500k label rows per task — a
    * few MB of (long, long) pairs) instead of the session's batch
    * default. At sf0.1 (2k nodes) that is 1 partition instead of 32 —
    * the 32-way exchanges were pure scheduling overhead (53 jobs of
    * 10–50 ms). The rule only ever NARROWS the width: it is capped at
    * the session's configured `spark.sql.shuffle.partitions`, so a
    * 100 TB cluster session keeps its cluster-sized width unless the
    * frontier is genuinely small (it never over-partitions a small
    * frontier, and never widens beyond the session conf). Results are
    * partitioning-independent (min-label fixpoint / frozen-majority
    * labels), oracle-checked. */
  private def withLoopPartitions[T](spark: SparkSession, nRows: Long)
                                   (f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val n = math.max(1L, math.min(prev.toLong, nRows / 500000L + 1L))
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Converged min-label connected components over an arbitrary
    * directed edge list (symmetrize before calling for undirected
    * semantics) — the kernel, fixture-testable.
    *
    * Each round combines the Pregel neighbor-min gather with POINTER
    * JUMPING (lbl ← lbl(lbl), the path-halving step of hash-to-min
    * CC): label chains contract geometrically, so convergence is
    * O(log diameter) rounds instead of O(diameter) — on the kNN
    * graph's ~30-hop cell paths that is 6 rounds instead of ~30, and
    * at 100 TB the round count is what multiplies every shuffle. The
    * fixpoint (component-minimum labels) is the same object either
    * way, which is what lets the DuckDB oracle converge by a different
    * route and still hash-match. */
  private[graft] def components(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val e = edges.persist()
    val n = nodes.select(col("vec_id")).persist()
    // (an edges.repartition(src) landing co-partitioned with the
    // per-round join was measured SLOWER here: the gather join
    // broadcasts the label frontier, so edges never re-exchange —
    // the added repartition pass was pure cost)
    withLoopPartitions(n.sparkSession, n.count()) {
    // eager localCheckpoint per round: the frontier materializes NOW and
    // its lineage truncates, so round k never re-executes rounds 0..k-1
    // (the persist()/unpersist() spelling silently did exactly that —
    // unpersisting the parent before the lazily-persisted child ever
    // materialized turned the loop quadratic, 56 s for what is 3 s).
    var labels = n.select(col("vec_id"), col("vec_id").as("lbl"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      it += 1
      // gather: min label over in-neighbors
      val gathered = e.join(labels, e("src") === labels("vec_id"))
        .groupBy(e("dst").as("vec_id")).agg(min("lbl").as("nbr_lbl"))
      val stepped = labels.join(gathered, Seq("vec_id"), "left")
        .select(col("vec_id"), col("lbl"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl")))
            .as("mid_lbl"))
      // jump: follow the label's own label (path halving)
      val parent = labels
        .select(col("vec_id").as("p_id"), col("lbl").as("p_lbl"))
      val next = stepped.join(parent, col("mid_lbl") === col("p_id"), "left")
        .select(col("vec_id"), col("lbl"),
          least(col("mid_lbl"), coalesce(col("p_lbl"), col("mid_lbl")))
            .as("new_lbl"))
        .localCheckpoint()
      // ONE aggregated long crosses to the driver per round, read from
      // the already-materialized checkpoint
      converged = next.where(col("new_lbl") < col("lbl")).limit(1)
        .count() == 0L
      // retired round — next is materialized and independent; only
      // retired rounds are freed (the returned frontier reads lazily)
      graft.BoundedCache.freeCheckpoint(labels)
      labels = next.select(col("vec_id"), col("new_lbl").as("lbl"))
    }
    require(converged, s"components did not converge in $maxIters rounds")
    e.unpersist(blocking = false)
    n.unpersist(blocking = false)
    labels
    }
  }

  private def symmetrize(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  private def componentsOut(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val labels = components(nodes, edges)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("comp_n"))
    labels.join(sizes, "lbl")
      .select(col("vec_id"), col("lbl").as("comp_id"),
        col("comp_n").cast("long").as("comp_n"))
      .orderBy("vec_id")
  }

  /** Registered query: components of the symmetrized kNN graph, each
    * node with its component id (= min member vec_id) and size. */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val knn = Kmeans.knnGraphCached(spark, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val nodes = graft.Tables.load(spark, dir, "embeddings").select("vec_id")
    componentsOut(nodes, symmetrize(knn))
  }

  /** Production-scale twin over the ANN-built landed edges (the
    * `graph_pagerank_ann` closure applied to the rest of the family):
    * the kNN-fixture edge build is Σ|cell|² = N²/8 and sf10-excluded,
    * while [[Similarity.annEdges]] blocks by the sf10-proven IVF
    * coarse quantizer and lands once per (application, dir) — so the
    * same exact-integer kernel runs at archive scale, and the oracle
    * replays from the same landed parquet. */
  def connectedComponentsAnn(spark: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.annEdges(spark, dir).select("src", "dst")
    val nodes = graft.Tables.load(spark, dir, "embeddings").select("vec_id")
    componentsOut(nodes, symmetrize(edges))
  }

  /** Oracle: the kNN CTE chain feeding a recursive min-label closure.
    * The recursion carries (node, label) pairs pruned to lbl < node —
    * a label ≥ the node can never be its min (the node's own id is
    * already seated), and the component-min label always survives the
    * prune along any path, so the fixpoint is exact while the pair
    * space stays o(component²). */
  /** Recursive min-label closure over any WITH-prefix defining CTEs
    * `kn` (vec_id, nbr_id) and `nd` (vec_id); the prefix must open
    * `WITH RECURSIVE` for the closure member. */
  private def componentsDuckFrom(prefix: String): String =
    s"""$prefix,
       |ed AS (
       |  SELECT vec_id AS src, nbr_id AS dst FROM kn
       |  UNION SELECT nbr_id, vec_id FROM kn),
       |cc AS (
       |  SELECT vec_id, vec_id AS lbl FROM nd
       |  UNION
       |  SELECT ed.dst AS vec_id, cc.lbl
       |  FROM cc JOIN ed ON cc.vec_id = ed.src
       |  WHERE cc.lbl < ed.dst),
       |lab AS (
       |  SELECT vec_id, MIN(lbl) AS comp_id FROM cc GROUP BY vec_id),
       |sz AS (
       |  SELECT comp_id, CAST(COUNT(*) AS BIGINT) AS comp_n
       |  FROM lab GROUP BY comp_id)
       |SELECT lab.vec_id, lab.comp_id, sz.comp_n
       |FROM lab JOIN sz ON lab.comp_id = sz.comp_id
       |ORDER BY lab.vec_id""".stripMargin

  def componentsDuckSql: String =
    // knnCtePrefix opens with "WITH e AS"; the recursive member needs
    // the RECURSIVE keyword hoisted onto that same WITH
    componentsDuckFrom("WITH RECURSIVE " +
      Kmeans.knnCtePrefix.stripPrefix("WITH ") +
      s""",
         |kn AS (SELECT vec_id, nbr_id FROM r WHERE rn <= ${Kmeans.KnnK}),
         |nd AS (SELECT vec_id FROM e)""".stripMargin)

  def componentsAnnDuckSql: String =
    componentsDuckFrom(
      s"""WITH RECURSIVE kn AS (
         |  SELECT src AS vec_id, dst AS nbr_id FROM read_parquet(
         |    '${Similarity.annEdgePath(graft.RunContext.oracleDir)}/*.parquet')),
         |nd AS (SELECT vec_id FROM embeddings)""".stripMargin)

  /** Rounds of synchronous label propagation — fixed, not
    * to-convergence, so the oracle can unroll the same count. */
  val LpRounds = 3

  /** Semi-supervised label propagation with clamping over an arbitrary
    * directed edge list — the kernel. `nodes` carries (vec_id, lbl0)
    * where lbl0 is NULL for unlabeled nodes; seeds keep their label
    * forever (clamping), unlabeled nodes adopt the majority label of
    * their labeled in-neighbors each round, ties to the SMALLEST
    * label. Once adopted a label is frozen (the coalesce prefers the
    * standing label), so the process is monotone and deterministic.
    *
    * Scale shape: each round is ONE labels⋈edges join co-partitioned
    * on the edge source + ONE two-level aggregation — (dst, lbl)
    * vote counts with map-side partials, then a per-node max over
    * (count, −lbl) structs, which is itself a mergeable aggregate (no
    * window sort anywhere). [[LpRounds]] bounds the rounds, and each
    * round's frontier eagerly localCheckpoints so lineage stays
    * one-deep (the components-loop lesson). Per-round driver state is
    * zero — nothing collects. */
  private[graft] def labelProp(nodes: DataFrame, edges: DataFrame,
      rounds: Int = LpRounds): DataFrame = {
    val e = edges.persist()
    var lab = nodes.select(col("vec_id"), col("lbl0").as("lbl"))
      .localCheckpoint(true)
    withLoopPartitions(e.sparkSession, lab.count()) {
    for (_ <- 1 to rounds) {
      val labeled = lab.where(col("lbl").isNotNull)
        .select(col("vec_id").as("src_id"), col("lbl"))
      val best = e.join(labeled, e("src") === col("src_id"))
        .groupBy(e("dst").as("vec_id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("vec_id")
        .agg(max(struct(col("c"),
          (-col("lbl")).cast("int").as("nl"))).as("m"))
        .select(col("vec_id"), (-col("m.nl")).cast("int").as("new_lbl"))
      val prev = lab
      lab = lab.join(best, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("lbl"), col("new_lbl")).as("lbl"))
        .localCheckpoint(true)
      // retired round — lab is eagerly materialized
      graft.BoundedCache.freeCheckpoint(prev)
    }
    e.unpersist(blocking = false)
    lab
    }
  }

  /** Registered query: label propagation over the kNN graph with the
    * embeddings table's own labels as seeds (every 5th vec_id), the
    * semi-supervised labeling pass a curation pipeline runs to extend
    * a small audited label set across the corpus. Output carries the
    * true label alongside the propagated one so the result doubles as
    * an accuracy readout. */
  private def labelPropOut(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val nodes = emb.select(col("vec_id"),
      when(col("vec_id") % 5 === 0, col("label")).as("lbl0"))
    labelProp(nodes, edges)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, lit(1)).otherwise(lit(0))
          .as("is_seed"),
        col("lbl").cast("int").as("lbl_prop"),
        col("label").cast("int").as("lbl_true"))
      .orderBy("vec_id")
  }

  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val knn = Kmeans.knnGraphCached(spark, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    labelPropOut(spark, dir, symmetrize(knn))
  }

  /** ANN-edge twin — see [[connectedComponentsAnn]]. */
  def labelPropagationAnn(spark: SparkSession, dir: String): DataFrame =
    labelPropOut(spark, dir,
      symmetrize(Similarity.annEdges(spark, dir).select("src", "dst")))

  /** Oracle: the kNN CTE chain feeding [[LpRounds]] unrolled
    * vote/adopt rounds; the per-node argmax is spelled as a
    * (c DESC, lbl ASC) row_number — the same (count, −label) order the
    * engine's max-struct computes. */
  /** [[LpRounds]] unrolled vote/adopt rounds over any WITH-prefix
    * defining CTE `kn` (vec_id, nbr_id). */
  private def labelPropDuckFrom(prefix: String): String = {
    val roundCtes = (1 to LpRounds).map { i =>
      s"""v$i AS (
         |  SELECT ed.dst AS vec_id, p.lbl, COUNT(*) AS c
         |  FROM ed JOIN lp${i - 1} p ON ed.src = p.vec_id
         |  WHERE p.lbl IS NOT NULL GROUP BY ed.dst, p.lbl),
         |b$i AS (
         |  SELECT vec_id, lbl AS new_lbl FROM (
         |    SELECT vec_id, lbl,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY c DESC, lbl ASC) AS rn
         |    FROM v$i) WHERE rn = 1),
         |lp$i AS (
         |  SELECT n.vec_id, COALESCE(n.lbl, b.new_lbl) AS lbl
         |  FROM lp${i - 1} n LEFT JOIN b$i b ON n.vec_id = b.vec_id)"""
        .stripMargin
    }.mkString(",\n")
    s"""$prefix,
       |ed AS (
       |  SELECT vec_id AS src, nbr_id AS dst FROM kn
       |  UNION SELECT nbr_id, vec_id FROM kn),
       |emb AS (SELECT vec_id, label FROM embeddings),
       |lp0 AS (
       |  SELECT vec_id,
       |         CASE WHEN vec_id % 5 = 0 THEN label END AS lbl
       |  FROM emb),
       |$roundCtes
       |SELECT l.vec_id,
       |       CASE WHEN l.vec_id % 5 = 0 THEN 1 ELSE 0 END AS is_seed,
       |       CAST(l.lbl AS INT) AS lbl_prop,
       |       CAST(emb.label AS INT) AS lbl_true
       |FROM lp$LpRounds l JOIN emb ON l.vec_id = emb.vec_id
       |ORDER BY l.vec_id""".stripMargin
  }

  def labelPropDuckSql: String = labelPropDuckFrom(
    s"""${Kmeans.knnCtePrefix},
       |kn AS (SELECT vec_id, nbr_id FROM r WHERE rn <= ${Kmeans.KnnK})"""
      .stripMargin)

  def labelPropAnnDuckSql: String = labelPropDuckFrom(
    s"""WITH kn AS (
       |  SELECT src AS vec_id, dst AS nbr_id FROM read_parquet(
       |    '${Similarity.annEdgePath(graft.RunContext.oracleDir)}/*.parquet'))"""
      .stripMargin)

  /** Exact triangle census of an arbitrary directed edge list
    * (symmetrized + id-canonicalized internally) — the kernel. */
  private[graft] def triangleStats(edges: DataFrame): DataFrame = {
    // one row per undirected edge, oriented lo < hi (mutual kNN pairs
    // collapse); every triangle a<b<c appears exactly once as the
    // wedge (a,b)+(b,c) closed by (a,c)
    val und = edges
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .where(col("lo") =!= col("hi")).distinct().persist()
    val e1 = und.select(col("lo").as("a"), col("hi").as("b"))
    val e2 = und.select(col("lo").as("b2"), col("hi").as("c"))
    val e3 = und.select(col("lo").as("a3"), col("hi").as("c3"))
    val tri = e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = und.select(col("lo").as("v"))
      .union(und.select(col("hi").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val wedge = deg.agg(
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edgeN = und.agg(count(lit(1)).as("n_edges"))
    edgeN.crossJoin(tri).crossJoin(wedge)
      .select(col("n_edges").cast("long").as("n_edges"),
        col("n_triangles").cast("long").as("n_triangles"),
        col("n_wedges").cast("long").as("n_wedges"),
        expr("CAST(CAST(3.0 * n_triangles / n_wedges AS DECIMAL(18,6))" +
          " AS STRING)").as("clustering"))
  }

  /** Registered query: triangle count / wedge count / global clustering
    * coefficient of the kNN graph — ONE summary row. */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    triangleStats(Kmeans.knnGraphCached(spark, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst")))

  /** ANN-edge twin — see [[connectedComponentsAnn]]. */
  def trianglesAnn(spark: SparkSession, dir: String): DataFrame =
    triangleStats(Similarity.annEdges(spark, dir).select("src", "dst"))

  /** Triangle census over any WITH-prefix defining CTE
    * `kn` (vec_id, nbr_id). */
  private def trianglesDuckFrom(prefix: String): String =
    s"""$prefix,
       |und AS (
       |  SELECT DISTINCT LEAST(vec_id, nbr_id) AS lo,
       |         GREATEST(vec_id, nbr_id) AS hi
       |  FROM kn WHERE vec_id <> nbr_id),
       |tri AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       |  FROM und e1 JOIN und e2 ON e1.hi = e2.lo
       |       JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
       |dg AS (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
       |    SELECT lo AS v FROM und UNION ALL SELECT hi FROM und)
       |  GROUP BY v),
       |wg AS (
       |  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM dg),
       |en AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und)
       |SELECT en.n_edges, tri.n_triangles, wg.n_wedges,
       |       CAST(CAST(3.0 * tri.n_triangles / wg.n_wedges
       |            AS DECIMAL(18,6)) AS VARCHAR) AS clustering
       |FROM en CROSS JOIN tri CROSS JOIN wg""".stripMargin

  def trianglesDuckSql: String = trianglesDuckFrom(
    s"""${Kmeans.knnCtePrefix},
       |kn AS (SELECT vec_id, nbr_id FROM r WHERE rn <= ${Kmeans.KnnK})"""
      .stripMargin)

  def trianglesAnnDuckSql: String = trianglesDuckFrom(
    s"""WITH kn AS (
       |  SELECT src AS vec_id, dst AS nbr_id FROM read_parquet(
       |    '${Similarity.annEdgePath(graft.RunContext.oracleDir)}/*.parquet'))"""
      .stripMargin)
}
