package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over the embedding table — the coarse
  * clustering a curation pipeline runs for data maps, cluster-balanced
  * sampling, and IVF coarse quantizers (the IVF index build samples;
  * this is the full-corpus trainer).
  *
  * Scale shape (the k-means-centroid pattern the PCA op also uses):
  * per iteration, centroids (k×d, tiny) BROADCAST to the executors;
  * assignment is map-side; the centroid update is a typed mergeable
  * [[Aggregator]] producing k partial (count, Σvec) states with
  * map-side combine — one shuffle of k×(d+1) longs per iteration, the
  * corpus is never collected or self-joined. Driver state is k×d.
  *
  * Oracle exactness: elements are quantized to integer micro-units up
  * front (the embed_label_centroids trick), so distances, argmins, and
  * centroid sums are exact integer arithmetic — order-independent and
  * engine-exact. The only non-integer step, the mean, divides two
  * exactly-representable integers in IEEE doubles and rounds half away
  * from zero — spelled identically in DuckDB ([[oracleSql]] unrolls
  * the same three iterations as CTE chains). Ties in the argmin break
  * to the LOWEST cluster id in both engines; a cluster that loses all
  * members KEEPS its previous centroid. */
object Kmeans {

  val K = 8
  val Iters = 3

  /** Half-away-from-zero rounding — Spark SQL ROUND / DuckDB ROUND
    * semantics (Scala's math.round rounds half toward +∞ and would
    * diverge on negative .5 means). */
  private def roundHalf(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  private def sqDist(v: Array[Long], c: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
    s
  }

  private def argmin(v: Array[Long], cents: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = sqDist(v, cents(c))
      if (d < bestD) { bestD = d; best = c } // strict: ties keep lowest id
      c += 1
    }
    best
  }

  /** Mergeable element-wise (count, Σvec) — fixed d-sized state. */
  private class SumVec(d: Int)
      extends Aggregator[(Int, Array[Long]), (Long, Array[Long]),
        (Long, Array[Long])] {
    def zero: (Long, Array[Long]) = (0L, new Array[Long](d))
    def reduce(b: (Long, Array[Long]), a: (Int, Array[Long])):
        (Long, Array[Long]) = {
      var i = 0; while (i < d) { b._2(i) += a._2(i); i += 1 }
      (b._1 + 1, b._2)
    }
    def merge(x: (Long, Array[Long]), y: (Long, Array[Long])):
        (Long, Array[Long]) = {
      var i = 0; while (i < d) { x._2(i) += y._2(i); i += 1 }
      (x._1 + y._1, x._2)
    }
    def finish(r: (Long, Array[Long])): (Long, Array[Long]) = r
    def bufferEncoder: Encoder[(Long, Array[Long])] =
      Encoders.tuple(Encoders.scalaLong, ExpressionEncoderHelper.longArray)
    def outputEncoder: Encoder[(Long, Array[Long])] = bufferEncoder
  }

  private object ExpressionEncoderHelper {
    val longArray: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Embeddings quantized to integer micro-units via Spark SQL ROUND
    * (half away from zero, the DuckDB ROUND convention the centroid
    * ops already pin). */
  private[graft] def quantizedVecs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Long])] = {
    import spark.implicits._
    Tables.register(spark, dir)
    spark.sql(
      """SELECT vec_id,
        |       transform(embedding,
        |         x -> CAST(ROUND(x * 1e6) AS BIGINT)) AS v
        |FROM embeddings""".stripMargin)
      .as[(Long, Array[Long])]
  }

  /** Deterministic Lloyd iterations; returns the final centroids (k×d
    * driver state). Init takes the k first vectors in (vec_id % initMod,
    * vec_id) order — initMod = 0 is plain vec_id order (the embedding
    * convention); a prime initMod spreads the seeds across structured
    * id spaces (pixel grids) where the lowest ids are near-identical
    * neighbors. */
  private[graft] def trainCentroids(spark: SparkSession,
      q: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      k: Int = K, initMod: Long = 0L): Array[Array[Long]] = {
    import spark.implicits._
    val d = q.head()._2.length
    // deterministic init (k×d collect, bounded)
    var cents: Array[Array[Long]] = initSeeds(q, k, initMod)
    val sumVec = new SumVec(d)
    for (_ <- 1 to Iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val updated = q
        .map { case (_, v) => (argmin(v, bc.value), v) }
        .groupByKey(_._1)
        .agg(sumVec.toColumn.name("s"))
        .collect() // k rows of (cluster, (n, Σvec)) — bounded
        .toMap
      cents = cents.zipWithIndex.map { case (old, c) =>
        updated.get(c) match {
          case Some((n, sums)) if n > 0 =>
            sums.map(s => roundHalf(s.toDouble / n))
          case _ => old // empty cluster keeps its centroid
        }
      }
      bc.destroy()
    }
    cents
  }

  private def initSeeds(q: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      k: Int, initMod: Long): Array[Array[Long]] = {
    val ordered =
      if (initMod > 0) q.orderBy(expr(s"vec_id % ${initMod}L"), col("vec_id"))
      else q.orderBy("vec_id")
    val seeds = ordered.limit(k).collect()
    val key = (t: (Long, Array[Long])) =>
      if (initMod > 0) (t._1 % initMod, t._1) else (0L, t._1)
    seeds.sortBy(key).map(_._2)
  }

  /** Train + score: per-cluster size, exact integer inertia, and the
    * |centroid| checksum; clusters that ended empty still emit a row.
    * The shared engine of embed_kmeans and the raster pixel clusterer. */
  private[graft] def clusterStats(spark: SparkSession,
      q: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      k: Int = K, initMod: Long = 0L): DataFrame = {
    import spark.implicits._
    val cents = trainCentroids(spark, q, k, initMod)
    // scoring pass with the landed centroids
    val bc = spark.sparkContext.broadcast(cents)
    val stats = q
      .map { case (_, v) =>
        val c = argmin(v, bc.value)
        (c, sqDist(v, bc.value(c)))
      }
      .toDF("cluster", "dist")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("dist").as("inertia_q"))
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.map(math.abs).sum) }
      .toSeq.toDF("cluster", "c_abs_q")
    centDf.join(stats, Seq("cluster"), "left")
      .select(col("cluster").cast("long").as("cluster"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("inertia_q"), lit(0L)).as("inertia_q"),
        col("c_abs_q"))
      .orderBy("cluster")
  }

  def kmeans(spark: SparkSession, dir: String): DataFrame =
    clusterStats(spark, quantizedVecs(spark, dir))

  /** Cell-blocked exact kNN GRAPH — the neighbor-graph construction a
    * curation pipeline runs for graph-based dedup/diversity sampling:
    * every vector's top-[[KnnK]] cosine neighbors AMONG ITS OWN
    * k-means cell (the standard IVF blocking — candidate generation is
    * cell-local, so the pair space is Σ|cell|² instead of N²; at 100 TB
    * cells are √N-sized and each cell's block join is an independent
    * task). The same quantized-integer trick makes it oracle-exact:
    * dot products are exact integer sums, norms/quotients are
    * IEEE-identical, ties break on neighbor id. Top-k via a rank
    * window over the cell-join candidates (the grouped top-k heap
    * aggregator is the drop-in replacement when per-vector candidate
    * lists outgrow a window sort). */
  val KnnK = 5

  /** Landed kNN edge-list artifact. The graph is an ARTIFACT, not a
    * query: a curation pipeline builds it once and runs every
    * downstream analytic (components, PageRank, triangle census,
    * diversity sampling) against the landed edges — rebuilding the
    * cell-blocked join per consumer would re-pay the construction N
    * times. The edges land as PARQUET (the persisted-IVF-index
    * pattern at `sim_index_persist`), not a `localCheckpoint`: block
    * storage pinned for the JVM lifetime would survive the session,
    * strongly retain it, and evaporate on executor loss at cluster
    * scale; a parquet artifact is durable, session-free, and exactly
    * what a 100 TB deployment stores anyway. Landed-ness is tracked
    * per (application, dir) in a [[graft.BoundedCache]], which gives three
    * guarantees the bare latch-then-write lacked: concurrent first
    * consumers serialize on the build (nobody reads a half-written
    * path), a failed build/write propagates AND leaves the key
    * unlatched (the next consumer retries instead of reading a missing
    * artifact), and the landed path is recorded only after the write
    * succeeded. The path itself embeds the JVM pid plus the sanitized
    * dir ([[graft.TmpLanding]], which also sweeps dead JVMs' leftover
    * artifacts), so two concurrent applications (or two dirs with
    * colliding hashCodes) never share an on-disk artifact and the
    * per-pid dirs never accumulate unboundedly. The first consumer
    * after a cache clear (the harness clears after every query) pays
    * the build+write; later consumers within the query read the file.
    * A rebuild rewrites the same rows, so per-query results are
    * byte-identical to the uncached spelling. */
  private def knnGraphPath(dir: String): String =
    graft.TmpLanding.path("graft_knn_graph", dir)

  /** Landed-path latch (nothing pinned to release). */
  private val knnLanded = new graft.BoundedCache[String](max = 4, _ => ())

  def knnGraphCached(spark: SparkSession, dir: String): DataFrame = {
    val path = knnLanded.get(graft.BoundedCache.key(spark, dir)) {
      val p = knnGraphPath(dir)
      // single file: the edge list is N·KnnK rows (MBs at bench SFs) and
      // one file makes the re-read order deterministic; a cluster-scale
      // build would write partitioned by a vec_id range instead
      knnGraph(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = quantizedVecs(spark, dir)
    val cents = trainCentroids(spark, q)
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = q
      .map { case (id, v) =>
        var ss = 0L; var i = 0
        while (i < v.length) { ss += v(i) * v(i); i += 1 }
        (argmin(v, bc.value), id, v, math.sqrt(ss.toDouble))
      }
      .toDF("cell", "vec_id", "v", "nrm")
    val dot = udf { (a: Array[Long], b: Array[Long]) =>
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nbr = assigned
      .select(col("cell"), col("vec_id").as("nbr_id"),
        col("v").as("nv"), col("nrm").as("nnrm"))
    assigned.join(nbr,
        assigned("cell") === nbr("cell") &&
          assigned("vec_id") =!= nbr("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        (dot(col("v"), col("nv")).cast("double") /
          (col("nrm") * col("nnrm"))).as("sim"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("sim").desc, col("nbr_id"))))
      .where(col("rnk") <= KnnK)
      .select(col("vec_id"), col("rnk").cast("long").as("rnk"),
        col("nbr_id"),
        expr("CAST(ROUND(sim * 1e6) AS BIGINT)").as("sim_q"))
      .orderBy("vec_id", "rnk")
  }

  /** Shared oracle prefix: feature CTE → deterministic init → the SAME
    * three Lloyd iterations unrolled as CTE chains — exact integer
    * distances, argmin ties to the lowest cluster, half-away-from-zero
    * centroid means, empty clusters keeping their centroid via
    * COALESCE — ending at the final assignment `af`. `eBody` yields
    * (vec_id, v BIGINT[]); `initMod`/`k` mirror [[trainCentroids]]. */
  private def duckCtePrefix(eBody: String, k: Int, initMod: Long): String = {
    val initOrder =
      if (initMod > 0) s"vec_id % $initMod, vec_id" else "vec_id"
    def assign(c: String, a: String) =
      s"""$a AS (
         |  SELECT vec_id, v, cl, dd FROM (
         |    SELECT e.vec_id, e.v, $c.cl, $c.cv,
         |           CAST(list_sum([ (e.v[i] - $c.cv[i]) * (e.v[i] - $c.cv[i])
         |                for i in generate_series(1, len(e.v))]) AS BIGINT)
         |             AS dd,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                              ORDER BY CAST(list_sum(
         |             [ (e.v[i] - $c.cv[i]) * (e.v[i] - $c.cv[i])
         |                for i in generate_series(1, len(e.v))]) AS BIGINT),
         |                              $c.cl) AS rn
         |    FROM e CROSS JOIN $c) WHERE rn = 1)""".stripMargin
    def update(a: String, cPrev: String, u: String, c: String) =
      s"""$u AS (
         |  SELECT cl, list(cv_d ORDER BY dim) AS cv FROM (
         |    SELECT cl, s.dim AS dim,
         |           CAST(ROUND(CAST(SUM(s.v) AS DOUBLE) / COUNT(*))
         |                AS BIGINT) AS cv_d
         |    FROM (SELECT cl, unnest([{'dim': i, 'v': v[i]}
         |            for i in generate_series(1, len(v))]) AS s FROM $a)
         |    GROUP BY cl, s.dim) GROUP BY cl),
         |$c AS (
         |  SELECT $cPrev.cl, COALESCE($u.cv, $cPrev.cv) AS cv
         |  FROM $cPrev LEFT JOIN $u ON $cPrev.cl = $u.cl)""".stripMargin
    val iters = (1 to Iters).map { i =>
      assign(s"c${i - 1}", s"a$i") + ",\n" +
        update(s"a$i", s"c${i - 1}", s"u$i", s"c$i")
    }.mkString(",\n")
    s"""WITH e AS (
       |  $eBody),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY $initOrder) - 1 AS cl, v AS cv
       |  FROM e ORDER BY $initOrder LIMIT $k),
       |$iters,
       |${assign(s"c$Iters", "af")}""".stripMargin
  }

  private val embeddingsEBody: String =
    """SELECT vec_id,
      |         [CAST(ROUND(x * 1e6) AS BIGINT) for x in embedding] AS v
      |  FROM embeddings""".stripMargin

  /** Train + score oracle over any (vec_id, v BIGINT[]) source. */
  def clusterStatsDuckSql(eBody: String, k: Int = K,
      initMod: Long = 0L): String =
    s"""${duckCtePrefix(eBody, k, initMod)},
       |st AS (
       |  SELECT cl, COUNT(*) AS n, CAST(SUM(dd) AS BIGINT) AS inertia_q
       |  FROM af GROUP BY cl)
       |SELECT CAST(c$Iters.cl AS BIGINT) AS cluster,
       |       CAST(COALESCE(st.n, 0) AS BIGINT) AS n,
       |       CAST(COALESCE(st.inertia_q, 0) AS BIGINT) AS inertia_q,
       |       CAST(list_sum([abs(x) for x in c$Iters.cv]) AS BIGINT)
       |         AS c_abs_q
       |FROM c$Iters LEFT JOIN st ON c$Iters.cl = st.cl
       |ORDER BY cluster""".stripMargin

  def kmeansDuckSql: String = clusterStatsDuckSql(embeddingsEBody)

  /** Everything up to the ranked candidate CTE `r` — shared by the kNN
    * graph oracle and the PageRank oracle (which consumes the graph's
    * edges rather than its projection). */
  private[similarity] def knnCtePrefix: String =
    s"""${duckCtePrefix(embeddingsEBody, K, 0L)},
       |nm AS (
       |  SELECT vec_id, cl, v,
       |         sqrt(CAST(list_sum([x * x for x in v]) AS DOUBLE)) AS nrm
       |  FROM af),
       |p AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |         CAST(list_sum([a.v[i] * b.v[i]
       |              for i in generate_series(1, len(a.v))]) AS DOUBLE)
       |           / (a.nrm * b.nrm) AS sim
       |  FROM nm a JOIN nm b
       |    ON a.cl = b.cl AND a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY sim DESC, nbr_id) AS rn
       |  FROM p)""".stripMargin

  def knnGraphDuckSql: String =
    s"""$knnCtePrefix
       |SELECT vec_id, CAST(rn AS BIGINT) AS rnk, nbr_id,
       |       CAST(ROUND(sim * 1e6) AS BIGINT) AS sim_q
       |FROM r WHERE rn <= $KnnK ORDER BY vec_id, rnk""".stripMargin
}
