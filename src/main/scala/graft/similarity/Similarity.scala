package graft.similarity

import graft.{RunContext, Tables}
import graft.functions.VecFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over the `embeddings` table
  * (`Array[Float]`, north-star extensions, SURVEY §7.1 step 8).
  *
  *  - `sim_bruteforce_topk`: exact cosine top-k for a fixed query set —
  *    the correctness baseline (DuckDB-oracle checked). The query side is
  *    tiny → Catalyst broadcasts it; the candidate scan streams map-side.
  *  - `sim_lsh_topk`: random-hyperplane LSH — the 100 TB scale path.
  *    Signatures are one map-side projection; candidate generation is an
  *    equi-join on signature chunks (multi-probe via chunk bands), so the
  *    per-query work is O(bucket) instead of O(N).
  */
object Similarity {

  val K = 5
  val NumQueries = 10 // query set: vec_id < 10, fixed for determinism

  /** Exact cosine via the native `vec_cosine` Expression — left-to-right
    * double folds, so the doubles match the DuckDB oracle bit-for-bit. */
  val bruteforceSparkSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |s AS (SELECT qid, cid, vec_cosine(qe, ce) AS cos
       |  FROM q JOIN c ON qid <> cid)
       |SELECT qid, cid, rn, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  val bruteforceDuckSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |s AS (SELECT qid, cid,
       |  list_sum(list_transform(generate_series(1, len(qe)),
       |           i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
       |  (sqrt(list_sum(list_transform(qe,
       |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform(ce,
       |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
       |  FROM q JOIN c ON qid <> cid)
       |SELECT qid, cid, rn, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  /** Hard-negative TRIPLET MINING — the candidate-generation pass of a
    * contrastive-training pipeline: for each anchor vector, the most
    * similar SAME-label vector (the positive) and the most similar
    * DIFFERENT-label vector (the hardest negative), plus the margin
    * between them (negative margin = a violation worth training on).
    *
    * Scale shape: the anchor panel is bounded ([[NumQueries]] rows,
    * broadcast into a single map-side scan of the corpus — the
    * [[bruteforceSparkSql]] pattern), and each per-(anchor, same?)
    * argmax folds through max(struct(cos, −cid)) — a MERGEABLE
    * aggregate with map-side partials, never a window sort over the
    * anchor×corpus candidate stream. Ties break to the lowest
    * candidate id via the −cid struct field; the DuckDB oracle spells
    * the same election as (cos DESC, cid ASC) row_number. At index
    * scale the corpus scan swaps for the IVF-probed candidate set,
    * same election. */
  val tripletSparkSql: String =
    s"""WITH q AS (SELECT vec_id AS aid, label AS albl, embedding AS qe
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS cid, label AS clbl, embedding AS ce
       |      FROM embeddings),
       |s AS (SELECT aid, albl, cid, clbl, vec_cosine(qe, ce) AS cos
       |      FROM q JOIN c ON aid <> cid),
       |m AS (SELECT aid, clbl = albl AS same,
       |             max(named_struct('c', cos, 'ni', -cid)) AS mx
       |      FROM s GROUP BY aid, clbl = albl),
       |p AS (SELECT aid, -mx.ni AS pos_id, mx.c AS pos_cos
       |      FROM m WHERE same),
       |n AS (SELECT aid, -mx.ni AS neg_id, mx.c AS neg_cos
       |      FROM m WHERE NOT same)
       |SELECT q.aid AS anchor_id, p.pos_id, n.neg_id,
       |       ROUND(p.pos_cos, 4) + 0.0 AS pos_cos,
       |       ROUND(n.neg_cos, 4) + 0.0 AS neg_cos,
       |       ROUND(p.pos_cos - n.neg_cos, 4) + 0.0 AS margin
       |FROM q LEFT JOIN p ON q.aid = p.aid
       |       LEFT JOIN n ON q.aid = n.aid
       |ORDER BY anchor_id""".stripMargin

  val tripletDuckSql: String =
    s"""WITH q AS (SELECT vec_id AS aid, label AS albl, embedding AS qe
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS cid, label AS clbl, embedding AS ce
       |      FROM embeddings),
       |s AS (SELECT aid, albl, cid, clbl,
       |  list_sum(list_transform(generate_series(1, len(qe)),
       |           i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
       |  (sqrt(list_sum(list_transform(qe,
       |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform(ce,
       |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
       |  FROM q JOIN c ON aid <> cid),
       |r AS (SELECT aid, cid, clbl = albl AS same, cos,
       |             row_number() OVER (PARTITION BY aid, clbl = albl
       |                                ORDER BY cos DESC, cid) AS rn
       |      FROM s),
       |p AS (SELECT aid, cid AS pos_id, cos AS pos_cos
       |      FROM r WHERE same AND rn = 1),
       |n AS (SELECT aid, cid AS neg_id, cos AS neg_cos
       |      FROM r WHERE NOT same AND rn = 1)
       |SELECT q.aid AS anchor_id, p.pos_id, n.neg_id,
       |       ROUND(p.pos_cos, 4) + 0.0 AS pos_cos,
       |       ROUND(n.neg_cos, 4) + 0.0 AS neg_cos,
       |       ROUND(p.pos_cos - n.neg_cos, 4) + 0.0 AS margin
       |FROM q LEFT JOIN p ON q.aid = p.aid
       |       LEFT JOIN n ON q.aid = n.aid
       |ORDER BY anchor_id""".stripMargin

  // ---- hybrid retrieval: RRF fusion of dense cosine + BM25 ranks ----------

  val RrfK = 60 // the standard reciprocal-rank-fusion constant
  val HybridDepth = 20 // per-arm candidate depth before fusion

  /** Reciprocal-rank fusion of the two retrieval arms this engine
    * already ships — the retrieve-then-fuse primitive of data-curation
    * loops (filter a corpus by "semantically near my seed docs AND
    * matching my keyword probes"). Per query vector: the dense arm is
    * exact cosine top-[[HybridDepth]] (the [[bruteforceSparkSql]]
    * spelling, broadcast query panel, map-side candidate scan); the
    * sparse arm is the global BM25 probe ranking
    * ([[graft.text.Corpus.bm25SparkCtes]] — two tiny broadcast stats
    * rows, scan never shuffles). Candidates are the UNION of both
    * top-[[HybridDepth]] lists; rrf = Σ 1/([[RrfK]]+rank), a missing
    * arm contributing 0 — the textbook RRF over two rankers. Ranks are
    * integers, so the fused doubles are bit-identical across engines;
    * ties break on cid. At 100 TB both arms keep their proven scale
    * shapes and the fusion joins touch only Q×depth rows. */
  private def hybridTail(bmCtes: String, denseScore: String): String =
    s"""$bmCtes,
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |      WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |sc AS (SELECT qid, cid, $denseScore AS cos
       |       FROM q JOIN c ON qid <> cid),
       |dr AS (SELECT qid, cid,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY cos DESC, cid) AS drn
       |       FROM sc),
       |d20 AS (SELECT qid, cid, drn FROM dr WHERE drn <= $HybridDepth),
       |sr AS (SELECT doc_id,
       |         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS srn
       |       FROM bm),
       |s20 AS (SELECT doc_id, srn FROM sr WHERE srn <= $HybridDepth),
       |cand AS (SELECT qid, cid FROM d20
       |         UNION
       |         SELECT qs.qid, s20.doc_id AS cid
       |         FROM (SELECT DISTINCT qid FROM d20) qs CROSS JOIN s20
       |         WHERE s20.doc_id <> qs.qid),
       |fused AS (SELECT cand.qid, cand.cid,
       |            COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + d20.drn),
       |                     CAST(0.0 AS DOUBLE)) +
       |            COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + s20.srn),
       |                     CAST(0.0 AS DOUBLE)) AS rrf
       |          FROM cand
       |          LEFT JOIN d20 ON cand.qid = d20.qid AND cand.cid = d20.cid
       |          LEFT JOIN s20 ON cand.cid = s20.doc_id)
       |SELECT qid, cid, rn, ROUND(rrf, 6) AS rrf FROM (
       |  SELECT qid, cid, rrf,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY rrf DESC, cid) AS rn
       |  FROM fused) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  val hybridRrfSparkSql: String =
    hybridTail(graft.text.Corpus.bm25SparkCtes, "vec_cosine(qe, ce)")

  val hybridRrfDuckSql: String = hybridTail(
    graft.text.Corpus.bm25DuckCtes,
    """list_sum(list_transform(generate_series(1, len(qe)),
      |           i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
      |  (sqrt(list_sum(list_transform(qe,
      |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
      |   sqrt(list_sum(list_transform(ce,
      |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))""".stripMargin)

  // ---- MMR: maximal-marginal-relevance diversified top-k ------------------

  val MmrDepth = 20 // candidate pool per query (dense top-D)
  // spelled as two literals, NOT (1 - lambda): 1.0 - 0.7 is
  // 0.30000000000000004 in IEEE doubles while the SQL oracle parses the
  // literal 0.3 — the kernel must use the same parsed literals
  val MmrLambda = 0.7
  val MmrOneMinusLambda = 0.3

  /** The exact fold of the native `vec_cosine` Expression
    * ([[graft.functions.CosineSimilarity]]) on plain float arrays —
    * the MMR kernel's candidate-candidate similarity must be
    * bit-identical to the SQL spelling both engines use. */
  private[graft] def cosineF(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x(i).toDouble * y(i); i += 1 }
    var na = 0.0
    i = 0
    while (i < x.length) { val v = x(i).toDouble; na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < y.length) { val v = y(i).toDouble; nb += v * v; i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Dense top-[[MmrDepth]] candidate pool per query — the bruteforce
    * spelling with the pool depth instead of K, keeping the raw
    * cosine as `rel`. */
  private def mmrCandSql(cosExpr: String): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |s AS (SELECT qid, cid, $cosExpr AS rel
       |  FROM q JOIN c ON qid <> cid)
       |SELECT qid, cid, rel FROM (
       |  SELECT qid, cid, rel,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY rel DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $MmrDepth""".stripMargin

  private val duckCosExpr: String =
    """list_sum(list_transform(generate_series(1, len(qe)),
      |           i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
      |  (sqrt(list_sum(list_transform(qe,
      |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
      |   sqrt(list_sum(list_transform(ce,
      |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))""".stripMargin

  /** Maximal-marginal-relevance selection — the diversified top-k the
    * curation loop runs instead of plain nearest-neighbor when it
    * wants coverage, not five near-duplicates of the same result:
    * greedily pick argmax of `λ·rel(q,c) − (1−λ)·max_{s∈selected}
    * cos(c,s)` (Carbonell & Goldstein 1998), K picks from the dense
    * top-[[MmrDepth]] pool, ties to the smaller cid.
    *
    * Scale shape: the pool is Q×[[MmrDepth]] rows (the bruteforce
    * broadcast-panel scan everything dense already uses); the greedy
    * is inherently sequential in K but over a BOUNDED per-query set,
    * so it runs as one `mapGroups` with ≤ depth embeddings of state
    * per group and the candidate-candidate cosines (≤ depth² per
    * query) computed on demand task-locally — nothing quadratic ever
    * crosses an exchange, and queries parallelize freely. The oracle
    * replays the greedy as K unrolled argmax CTE steps in DuckDB;
    * scores round at 6 with the `+ 0.0` negative-zero guard. */
  def mmrSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    VecFunctions.register(spark)
    Tables.register(spark, dir)
    val cand = spark.sql(mmrCandSql("vec_cosine(qe, ce)"))
    val emb = spark.table("embeddings")
      .select(col("vec_id").cast("long").as("cid"), col("embedding").as("ce"))
    val lam = MmrLambda
    val oml = MmrOneMinusLambda
    val k = K
    cand.select(col("qid").cast("long"), col("cid").cast("long"),
        col("rel").cast("double"))
      .join(emb, "cid")
      .select(col("qid"), col("cid"), col("rel"), col("ce"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // cid-ascending base order: the argmax tie-break below ("keep
        // the FIRST maximum") then matches the oracle's (score DESC,
        // cid ASC) row_number
        val cs = it.map { case (_, cid, rel, ce) => (cid, rel, ce) }
          .toArray.sortBy(_._1)
        val picked = new Array[Boolean](cs.length)
        val selEmb = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Int, Double)]
        var step = 1
        while (step <= k && step <= cs.length) {
          var bestIdx = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            if (!picked(i)) {
              // MAX over the selected set, exactly the oracle's
              // MAX(pc.sim); 0.0 over the empty set (step 1), matching
              // the oracle's literal `- 0.3 * 0.0`
              var ms = Double.NegativeInfinity
              var j = 0
              while (j < selEmb.length) {
                val s = cosineF(cs(i)._3, selEmb(j))
                if (s > ms) ms = s
                j += 1
              }
              if (selEmb.isEmpty) ms = 0.0
              val score = lam * cs(i)._2 - oml * ms
              if (score > bestScore) { bestScore = score; bestIdx = i }
            }
            i += 1
          }
          if (bestIdx < 0) {
            // every remaining score is NaN (e.g. a NaN embedding
            // component poisons all cosines): stop picking, matching
            // the SQL spelling where NaN rows drop out of the rank
            // window instead of crashing the task
            step = k + 1
          } else {
            picked(bestIdx) = true
            selEmb += cs(bestIdx)._3
            out += ((qid, cs(bestIdx)._1, step, bestScore))
            step += 1
          }
        }
        out.iterator
      }
      .toDF("qid", "cid", "rn", "score")
      .selectExpr("qid", "cid", "rn", "ROUND(score, 6) + 0.0 AS score")
      .orderBy("qid", "rn")
  }

  /** K unrolled greedy steps; step i's argmax sees the union of the
    * previous picks. `ms` is MAX over the selected set — order-free,
    * so the doubles match the kernel's incremental max. */
  val mmrDuckSql: String = {
    val steps = (2 to K).map { i =>
      val prev = (1 until i).map(j => s"SELECT * FROM p$j").mkString(" UNION ALL ")
      s"""sel$i AS ($prev),
         |p$i AS (
         |  SELECT qid, cid, rn, score FROM (
         |    SELECT c.qid, c.cid, $i AS rn,
         |           $MmrLambda * c.rel - $MmrOneMinusLambda * m.ms AS score,
         |           ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
         |             $MmrLambda * c.rel - $MmrOneMinusLambda * m.ms DESC,
         |             c.cid) AS prk
         |    FROM cand c
         |    JOIN (SELECT pc.qid, pc.c1 AS cid, MAX(pc.sim) AS ms
         |          FROM pc JOIN sel$i s ON pc.qid = s.qid AND pc.c2 = s.cid
         |          GROUP BY pc.qid, pc.c1) m
         |      ON m.qid = c.qid AND m.cid = c.cid
         |    WHERE NOT EXISTS (SELECT 1 FROM sel$i s
         |                      WHERE s.qid = c.qid AND s.cid = c.cid)
         |  ) t WHERE prk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |s AS (SELECT qid, cid, $duckCosExpr AS rel
       |  FROM q JOIN c ON qid <> cid),
       |cand AS (SELECT qid, cid, rel FROM (
       |  SELECT qid, cid, rel,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY rel DESC, cid) AS rn
       |  FROM s) t WHERE rn <= $MmrDepth),
       |pc AS (
       |  SELECT a.qid, a.cid AS c1, b.cid AS c2,
       |         list_sum(list_transform(generate_series(1, len(ea.embedding)),
       |           i -> CAST(ea.embedding[i] AS DOUBLE)
       |              * CAST(eb.embedding[i] AS DOUBLE))) /
       |         (sqrt(list_sum(list_transform(ea.embedding,
       |               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |          sqrt(list_sum(list_transform(eb.embedding,
       |               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS sim
       |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
       |  JOIN embeddings ea ON ea.vec_id = a.cid
       |  JOIN embeddings eb ON eb.vec_id = b.cid),
       |p1 AS (
       |  SELECT qid, cid, 1 AS rn,
       |         $MmrLambda * rel - $MmrOneMinusLambda * CAST(0.0 AS DOUBLE)
       |           AS score
       |  FROM (SELECT qid, cid, rel,
       |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
       |            $MmrLambda * rel - $MmrOneMinusLambda
       |              * CAST(0.0 AS DOUBLE) DESC, cid) AS prk
       |        FROM cand) t WHERE prk = 1),
       |$steps,
       |allp AS (${(1 to K).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")})
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(cid AS BIGINT) AS cid,
       |       CAST(rn AS INT) AS rn, ROUND(score, 6) + 0.0 AS score
       |FROM allp ORDER BY qid, rn""".stripMargin
  }

  // ---- LSH (random hyperplanes, 64-bit native signatures) -----------------

  val SigBits = 64 // native rhp_sig codegen Expression (VecExpressions)
  val ChunkBits = 8 // 8 bands of 8 bits; queries add hamming-1 multiprobe

  /** (vec_id, chunk, v) signature-chunk rows — ids only, so the candidate
    * join and distinct shuffle ~16 bytes/row instead of full embeddings;
    * vectors are joined back only for surviving candidate pairs. The
    * signature itself is one native map-side projection (`rhp_sig`). */
  private def chunkRows(emb: DataFrame, chunkBits: Int): DataFrame =
    emb.select(col("vec_id"),
        call_function("rhp_sig", col("embedding")).as("sig"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${SigBits / chunkBits - 1}), " +
          s"c -> shiftright(sig, c * $chunkBits) & ${(1L << chunkBits) - 1}L)"))
        .as(Seq("chunk", "v")))

  /** Hamming-radius-1 multiprobe: each query chunk also probes the
    * `chunkBits` single-bit-flip neighbor buckets. Query-side only —
    * the corpus is indexed once, queries fan out ×(chunkBits+1). */
  private def probeRows(chunked: DataFrame, chunkBits: Int): DataFrame =
    chunked.select(col("vec_id"), col("chunk"), explode(expr(
      s"transform(sequence(0, $chunkBits), " +
        "j -> CASE WHEN j = 0 THEN v ELSE v ^ shiftleft(1L, j - 1) END)"))
      .as("v"))

  /** Candidate (qid, cid) pairs: same-bucket in any band, query side
    * multiprobed. Exposed for the candidate-selectivity spec. */
  private[graft] def candidatePairs(emb: DataFrame, chunkBits: Int = ChunkBits,
                                    multiprobe: Boolean = true): DataFrame = {
    val chunked = chunkRows(emb, chunkBits)
    val qBase = chunked.where(col("vec_id") < NumQueries)
    val q = (if (multiprobe) probeRows(qBase, chunkBits) else qBase)
      .toDF("qid", "chunk", "v")
    val c = chunked.toDF("cid", "chunk", "v")
    q.join(c, Seq("chunk", "v"))
      .where(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
  }

  /** Approximate top-k: banded LSH candidates (+multiprobe), exact cosine
    * re-rank. Output schema matches bruteforce (qid, cid, rn, cos).
    *
    * Scale parameterization: 64-bit signatures → 8 bands of 8 bits. On a
    * near-dup corpus (cos ≥ 0.9 ⇒ per-bit agreement ≈ 0.9) a band matches
    * with p ≈ 0.43 and a random pair with p ≈ 2^-8·9 ≈ 3.5%; 16-bit
    * chunks (4 bands) push random collisions to ~2.6e-4 for 100 TB runs —
    * `candidatePairs(emb, chunkBits = 16)`. The synthetic bench corpus is
    * near-orthogonal (top-k at cos ≈ 0.5), the adversarial case for ANY
    * sublinear ANN — the 8-bit default trades candidate volume for recall
    * there. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    val cand = candidatePairs(emb)
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(emb.select(col("vec_id").as("cid"), col("embedding").as("ce")), "cid")
    // native codegen'd kernel (CosineSimilarity Expression)
    val cosine = call_function("vec_cosine", col("qe"), col("ce"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.select(col("qid"), col("cid"), cosine.as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rn")
  }

  /** Embedding near-duplicate pairs (cos >= threshold) via LSH blocking —
    * the embedding-cosine member of the dedup family. */
  /* Default threshold tuned to the synthetic embeddings (max pairwise
   * cosine ~0.51 at sf0.01); real corpora would use ~0.9. */
  def nearDupPairs(spark: SparkSession, dir: String,
                   threshold: Double = 0.45): DataFrame = {
    VecFunctions.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    // all-pairs mode: 8-bit chunks (8 bands × 256 buckets); the hard bound
    // against a skewed bucket going quadratic is the MaxBucket cap below
    // (same guard as MinHash-LSH)
    val chunked = chunkRows(emb, chunkBits = 8)
    // native codegen'd kernel (CosineSimilarity Expression)
    val cosine = call_function("vec_cosine", col("ea"), col("eb"))
    val buckets = chunked
      .groupBy("chunk", "v")
      .agg(collect_list(col("vec_id")).as("ids"))
      .where(size(col("ids")).between(2, graft.dedup.Dedup.MaxBucket))
    buckets
      .select(explode(col("ids")).as("vec_a"), col("ids"))
      .select(col("vec_a"), explode(col("ids")).as("vec_b"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine.as("cos"))
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023 shape): block by
    * the IVF coarse-quantizer cell instead of LSH — k-means clusters ARE
    * the semantic blocks, so near-duplicate meaning lands in one cell
    * even when LSH bit patterns diverge. Within each cell, a vector is
    * dropped when a lower-id member sits above the cosine threshold
    * (min-id dominance: one deterministic pass, no iteration); the kept
    * set is the semantic exemplar list.
    *
    * Scale shape: candidate pairs never leave a cell, cells average √N
    * (the quantizer's k), and the same `MaxBucket` guard as LSH bounds a
    * skewed cell — an oversized cell means the quantizer wants more
    * centroids, not that the join may go quadratic. The cell assignment
    * is the IVF index's own (built once, cached), so dedup rides an
    * artifact the pipeline already has. */
  def semanticDedupFrom(assigned: DataFrame, threshold: Double): DataFrame = {
    val cosine = call_function("vec_cosine", col("ea"), col("eb"))
    val emb = assigned.select(col("vec_id"), col("embedding"))
    val dupPairs = assigned
      .groupBy("cell").agg(collect_list(col("vec_id")).as("ids"))
      .where(size(col("ids")).between(2, graft.dedup.Dedup.MaxBucket))
      .select(explode(col("ids")).as("vec_a"), col("ids"))
      .select(col("vec_a"), explode(col("ids")).as("vec_b"))
      .where(col("vec_a") < col("vec_b"))
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine.as("cos"))
      .where(col("cos") >= threshold)
    // dup_cos must be the cosine TO dup_of (min_by), not the max over all
    // dominating pairs — those can come from different vectors
    val verdicts = dupPairs.groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"),
        min_by(col("cos"), col("vec_a")).as("dup_cos"))
    assigned.select(col("vec_id"), col("cell"))
      .join(verdicts, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("keep"),
        col("dup_of"), round(col("dup_cos"), 4).as("dup_cos"))
      .orderBy("vec_id")
  }

  /* Same synthetic-corpus threshold rationale as [[nearDupPairs]]. */
  def semanticDedup(spark: SparkSession, dir: String,
                    threshold: Double = 0.45): DataFrame = {
    VecFunctions.register(spark)
    val (_, assigned) = ivfIndex(spark, dir)
    semanticDedupFrom(assigned, threshold)
  }

  // ---- IVF (inverted file index via k-means coarse quantizer) -------------

  /** Per-centroid training-sample budget: k-means quality saturates fast,
    * so training reads ~SamplePerCentroid·k rows regardless of corpus
    * size — at 100 TB the `sample()` is what keeps the fit off the full
    * table. */
  val SamplePerCentroid = 48
  /** Fraction of cells each query probes (multiprobe over the coarse
    * quantizer). */
  val ProbeFraction = 0.25

  /** IVF approximate top-k — the second scale path beside LSH: a k-means
    * coarse quantizer (MLlib, fixed seed, trained on a bounded SAMPLE)
    * partitions the corpus into ~√N cells; each query probes its nearest
    * `ProbeFraction` of cells and exact-cosine re-ranks only those
    * candidates. At 100 TB the assignment column doubles as the physical
    * partition key, so a probe touches `probes/centroids` of the data.
    * Output schema matches bruteforce (qid, cid, rn, cos). */
  /** Built IVF index: the fitted coarse quantizer (its
    * `clusterCenters` are the centroids) + cell-assigned corpus. Cached
    * per (session, dir) — an IVF index is a build-once artifact (at
    * 100 TB it would live as a bucketed table + centroid sidecar);
    * repeated probes within a query must pay probe cost, not rebuild
    * cost. 4 = scale dirs visited per application; eviction unpersists
    * the assigned corpus. */
  private val ivfIndexCache = new graft.BoundedCache[
    (org.apache.spark.ml.clustering.KMeansModel, DataFrame)](
    max = 4, onEvict = _._2.unpersist(blocking = false))

  /** Coarse quantizer for (session, dir) — kept so a stream can assign
    * NEW vectors to the same cells (index freshness: batch-built index,
    * incrementally ingested updates). */
  private[graft] def ivfModel(spark: SparkSession, dir: String)
  : org.apache.spark.ml.clustering.KMeansModel = ivfIndex(spark, dir)._1

  private def ivfIndex(spark: SparkSession, dir: String)
  : (org.apache.spark.ml.clustering.KMeansModel, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    ivfIndexCache.get(graft.BoundedCache.key(spark, dir)) {
      val emb = Tables.load(spark, dir, "embeddings")
        .withColumn("vec", array_to_vector(
          expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
        .cache()
      // √N centroids (count() is a metadata-cheap parquet row-count)
      val n = emb.count()
      val k = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val trainFrac = math.min(1.0, SamplePerCentroid.toDouble * k / n)
      val train =
        if (trainFrac < 1.0) emb.sample(withReplacement = false, trainFrac, 11)
        else emb
      val model = new KMeans().setK(k).setSeed(11)
        .setMaxIter(10).setFeaturesCol("vec").setPredictionCol("cell")
        .fit(train)
      val assigned = model.transform(emb)
        .select(col("vec_id"), col("embedding"), col("cell"))
        .persist()
      emb.unpersist(false)
      (model, assigned)
    }
  }

  /** Batch per-cell occupancy of the IVF index (spec baseline for the
    * streaming ingest). */
  private[graft] def cellCounts(spark: SparkSession, dir: String): DataFrame =
    ivfIndex(spark, dir)._2.groupBy("cell")
      .agg(count(lit(1)).as("n"))
      .select(col("cell").cast("int").as("cell"), col("n"))
      .orderBy("cell")

  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(spark)
    val (model, assigned) = ivfIndex(spark, dir)
    ivfTopKFrom(model.clusterCenters, assigned)
  }

  /** Probe + re-rank over an explicit index — the same path serves the
    * session-built index and one reloaded from a persisted layout
    * ([[saveIvfIndex]]/[[loadIvfIndex]]). */
  private[graft] def ivfTopKFrom(
      centroids: Array[org.apache.spark.ml.linalg.Vector],
      assigned: DataFrame): DataFrame = {
    val k = centroids.length
    // per-query probe list: top ⌈ProbeFraction·k⌉ centroids by COSINE —
    // the probe ranking must match the re-rank metric, or the cells
    // holding high-cosine neighbors get probed last (query side only —
    // NumQueries rows, so the udf is off the hot path; the corpus side is
    // the native cell equi-join below)
    val probes = math.max(5, math.ceil(ProbeFraction * k).toInt)
    val probeUdf = udf { emb2: Seq[Float] =>
      centroids.zipWithIndex.map { case (c, i) =>
        var dot = 0.0
        var nc = 0.0
        var ne = 0.0
        val m = math.min(c.size, emb2.length)
        var j = 0
        while (j < m) {
          dot += c(j) * emb2(j); nc += c(j) * c(j)
          ne += emb2(j).toDouble * emb2(j); j += 1
        }
        val denom = math.sqrt(nc) * math.sqrt(ne)
        (if (denom == 0.0) 0.0 else dot / denom, i)
      }.sortBy(-_._1).take(probes).map(_._2)
    }
    val queries = assigned.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(probeUdf(col("embedding"))).as("cell"))
    val cand = queries.join(
        assigned.select(col("vec_id").as("cid"),
          col("embedding").as("ce"), col("cell")), Seq("cell"))
      .where(col("qid") =!= col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.select(col("qid"), col("cid"),
        call_function("vec_cosine", col("qe"), col("ce")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rn")
  }

  /** Persisted-index location, keyed by a dir fingerprint so runs
    * against different SF dirs land side by side instead of clobbering
    * each other between query time and oracle time (the BPE/quality-tree
    * cross-SF hazard). */
  private[graft] def ivfIndexPath(dir: String): String =
    graft.TmpLanding.path("graft_ivf_index", dir)

  /** Round-trip the persisted-index layout: save, reload, and emit
    * per-cell occupancy from BOTH the session index and the reloaded
    * one (they must agree row-for-row) plus the centroid count.
    * Oracle ([[indexPersistDuckSql]]): DuckDB re-derives the occupancy
    * straight from the landed hive-partitioned files — the save must be
    * lossless and the partition column must encode the assignment. */
  def indexPersist(spark: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(spark)
    val path = ivfIndexPath(dir)
    saveIvfIndex(spark, dir, path)
    val (cents, assigned) = loadIvfIndex(spark, path)
    val live = cellCounts(spark, dir).toDF("cell", "n_live")
    val re = assigned.groupBy("cell").agg(count(lit(1)).as("n_reloaded"))
      .select(col("cell").cast("int").as("cell"), col("n_reloaded"))
    live.join(re, Seq("cell"), "full_outer")
      .select(col("cell"), col("n_live"), col("n_reloaded"),
        lit(cents.length).as("n_centroids"))
      .orderBy("cell")
  }

  /** Persist the IVF index as its 100 TB layout: a tiny `centroids`
    * parquet (one row per cell) plus a `cells` parquet PARTITIONED BY
    * the cell assignment — so a probe of p cells reads exactly p
    * partition directories (plan-time partition pruning), and the index
    * is a standing artifact instead of a per-session rebuild. The
    * streaming ingest (`stream_ann_ingest`) appends to the same layout:
    * map-side cell assignment + partitioned append. */
  def saveIvfIndex(spark: SparkSession, dir: String, path: String): Unit = {
    import spark.implicits._
    val (model, assigned) = ivfIndex(spark, dir)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // cluster by cell before the partitioned write: without it every
    // input partition writes one file per cell it touches — tasks x cells
    // small files (22k observed from a 32-partition 707-cell index; at
    // 1000 executors it would be millions) — and the reload pays a
    // footer read per file. One hash exchange bounds it at one file per
    // cell, each written whole by one task.
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells")
  }

  /** Reload a persisted index in the exact shape [[ivfTopKFrom]] probes. */
  def loadIvfIndex(spark: SparkSession, path: String)
  : (Array[org.apache.spark.ml.linalg.Vector], DataFrame) = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(r => org.apache.spark.ml.linalg.Vectors.dense(
        r.getSeq[Double](1).toArray))
    val assigned = spark.read.parquet(s"$path/cells")
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("int").as("cell"))
    (centroids, assigned)
  }

  // ---- IVF-PQ (product quantization over coarse-cell residuals) ----------

  /** PQ geometry: 8 subspaces × 8 dims, 16 centroids per subspace.
    * A 64-dim float vector (256 B) compresses to 8 codes + an 8-byte
    * stored norm = 16 B — 16× — which is what lets a 100 TB embedding
    * corpus' index live in cluster memory while the raw vectors stay on
    * disk for the (bounded) refine step. Codes are kept as array<int>
    * here for plain-SQL ADC indexing; a production layout would pack
    * them 4 bits each into a single long. */
  val PqM = 8
  val PqKs = 16
  /** Refine: exact re-rank of the top RefineFactor·K approximate hits.
    * 8 recovers most ADC ranking loss on near-orthogonal corpora (the
    * synthetic bench data) while still touching only 40 raw vectors per
    * query. */
  val PqRefineFactor = 8
  private val PqTrainMax = 4096 // driver-local codebook training sample cap

  /** Seeded Lloyd k-means on driver-local data — PQ codebooks train on a
    * BOUNDED sample (≤ PqTrainMax rows collected), so driver-local is the
    * right venue at any corpus scale; the distributed work stays in
    * encode/scan. */
  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
                                 iters: Int, seed: Long): Array[Array[Double]] = {
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    // k-means++-ish seeding: distinct random picks
    val centers = rnd.shuffle(points.indices.toList).take(k)
      .map(i => points(i).clone()).toArray
    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centers.length) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = points(i)(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      i = 0
      while (i < points.length) {
        val a = assign(i); counts(a) += 1
        var j = 0
        while (j < dim) { sums(a)(j) += points(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
        } else centers(c) = points(rnd.nextInt(points.length)).clone()
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Built PQ index: shared residual codebooks [m][ks][subDim] + the
    * encoded corpus (vec_id, cell, codes, xnorm, embedding). Cached per
    * (session, dir) like the IVF index it extends; eviction unpersists
    * the encoded corpus. */
  private val pqIndexCache =
    new graft.BoundedCache[(Array[Array[Array[Double]]], DataFrame)](
      max = 4, onEvict = _._2.unpersist(blocking = false))

  private[graft] def pqIndex(spark: SparkSession, dir: String)
  : (Array[Array[Array[Double]]], DataFrame) =
    pqIndexCache.get(graft.BoundedCache.key(spark, dir)) {
      val (model, assigned) = ivfIndex(spark, dir)
      val cents: Array[Array[Double]] = model.clusterCenters.map(_.toArray)
      val dim = cents.head.length
      require(dim % PqM == 0, s"dim $dim not divisible by PqM=$PqM")
      val subDim = dim / PqM

      // bounded training sample of residuals, collected to the driver
      val n = assigned.count()
      val frac = math.min(1.0, PqTrainMax.toDouble / n)
      val sample = (if (frac < 1.0) assigned.sample(false, frac, 13) else assigned)
        .select(col("embedding"), col("cell")).collect()
      val residuals = sample.map { r =>
        val e = r.getSeq[Float](0); val c = cents(r.getInt(1))
        Array.tabulate(dim)(j => e(j).toDouble - c(j))
      }
      val codebooks = Array.tabulate(PqM) { m =>
        val sub = residuals.map(r => java.util.Arrays.copyOfRange(r, m * subDim, (m + 1) * subDim))
        localKMeans(sub, PqKs, iters = 15, seed = 17L * (m + 1))
      }

      // one-time map-side encode of the full corpus (build path — a UDF
      // is fine here; the per-query scan below is UDF-free codegen SQL)
      val bCents = spark.sparkContext.broadcast(cents)
      val bCb = spark.sparkContext.broadcast(codebooks)
      val encodeUdf = udf { (emb: Seq[Float], cell: Int) =>
        val c = bCents.value(cell)
        val cb = bCb.value
        val codes = new Array[Int](PqM)
        var m = 0
        while (m < PqM) {
          var best = 0; var bestD = Double.MaxValue; var j = 0
          while (j < PqKs) {
            var d = 0.0; var t = 0
            while (t < subDim) {
              val r = emb(m * subDim + t).toDouble - c(m * subDim + t)
              val diff = r - cb(m)(j)(t); d += diff * diff; t += 1
            }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          codes(m) = best; m += 1
        }
        codes
      }
      val normUdf = udf { emb: Seq[Float] =>
        var s = 0.0; var j = 0
        while (j < emb.length) { s += emb(j).toDouble * emb(j); j += 1 }
        math.sqrt(s)
      }
      val encoded = assigned
        .withColumn("codes", encodeUdf(col("embedding"), col("cell")))
        .withColumn("xnorm", normUdf(col("embedding")))
        .persist()
      encoded.count() // materialize before handing out
      (codebooks, encoded)
    }

  /** IVF-PQ approximate top-k — asymmetric distance computation (ADC):
    * queries stay exact, candidates are scored from their PQ codes via a
    * per-query lookup table, then the top RefineFactor·K are exact-cosine
    * re-ranked. The scan path is pure codegen SQL (array indexing +
    * `aggregate`) over a broadcast LUT — no per-row Scala UDF; at 100 TB
    * the scored scan reads 16 B/vector instead of 256 B and only the
    * refine step touches raw embeddings (bounded: RefineFactor·K rows
    * per query). */
  /** Coarse-quantizer centroids as plain arrays (spec access). */
  private[graft] def ivfIndexCentroids(spark: SparkSession, dir: String)
  : Array[Array[Double]] = ivfModel(spark, dir).clusterCenters.map(_.toArray)

  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(spark)
    val cents = ivfModel(spark, dir).clusterCenters.map(_.toArray)
    val (codebooks, encoded) = pqIndex(spark, dir)
    val dim = cents.head.length
    val subDim = dim / PqM
    val k = cents.length
    val probes = math.max(5, math.ceil(ProbeFraction * k).toInt)

    // driver-side query prep (NumQueries rows): probe list + ADC LUT +
    // per-cell query·centroid dot products
    val qRows = encoded.where(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probeTable = qRows.flatMap { case (qid, q) =>
      val qd = q.map(_.toDouble)
      val qnorm = math.sqrt(qd.map(x => x * x).sum)
      val lut = Array.tabulate(PqM, PqKs) { (m, j) =>
        var s = 0.0; var t = 0
        while (t < subDim) { s += qd(m * subDim + t) * codebooks(m)(j)(t); t += 1 }
        s
      }.map(_.toSeq).toSeq
      val byCos = cents.zipWithIndex.map { case (c, i) =>
        var dot = 0.0; var nc = 0.0; var j = 0
        while (j < dim) { dot += qd(j) * c(j); nc += c(j) * c(j); j += 1 }
        (if (nc == 0.0) 0.0 else dot / (math.sqrt(nc) * qnorm), dot, i)
      }
      byCos.sortBy(-_._1).take(probes).map { case (_, qc, cell) =>
        (qid, cell, qc, qnorm, lut)
      }
    }.toSeq
    import spark.implicits._
    val probeDf = probeTable.toDF("qid", "cell", "qc", "qnorm", "lut")

    // ADC scan: broadcast tiny probe table into the probed cells, score
    // ip ≈ q·centroid + Σ_m lut[m][code_m], rank by approximate cosine
    val cand = broadcast(probeDf).join(encoded, Seq("cell"))
      .where(col("qid") =!= col("vec_id"))
      .withColumn("ip", col("qc") + expr(
        s"aggregate(sequence(0, ${PqM - 1}), 0D, (s, m) -> s + lut[m][codes[m]])"))
      .withColumn("cos_approx",
        when(col("xnorm") > 0.0, col("ip") / (col("qnorm") * col("xnorm")))
          .otherwise(lit(0.0)))
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("cos_approx").desc, col("vec_id"))
    val shortlist = cand
      .withColumn("arn", row_number().over(wA))
      .where(col("arn") <= K * PqRefineFactor)
      .select(col("qid"), col("vec_id").as("cid"), col("embedding").as("ce"))

    // bounded exact refine: RefineFactor·K rows per query
    val qEmb = encoded.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wE = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    shortlist.join(broadcast(qEmb), Seq("qid"))
      .select(col("qid"), col("cid"),
        call_function("vec_cosine", col("qe"), col("ce")).as("cos"))
      .withColumn("rn", row_number().over(wE))
      .where(col("rn") <= K)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rn")
  }

  /** Recall@K of each ANN path against exact brute force — the number
    * an ANN index is judged by, emitted as a query so every round's
    * correctness dump records it (deterministic: fixed seeds, fixed
    * query set). One row per (method, qid) plus a "_mean" row. */
  // 4 = scale dirs visited per application; eviction unpersists
  private val exactCache =
    new graft.BoundedCache[DataFrame](
      max = 4, onEvict = _.unpersist(blocking = false))

  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(spark)
    // ground truth is deterministic and reused across the three ANN
    // comparisons (and across bench reruns): materialize once per
    // (session, dir) — the standing eval-set shape of recall monitoring.
    val exact = exactCache.get(graft.BoundedCache.key(spark, dir)) {
      Tables.sql(bruteforceSparkSql)(spark, dir)
        .select(col("qid"), col("cid")).cache()
    }
    def recallOf(name: String, approx: DataFrame): DataFrame = {
      val hits = exact.join(approx.select(col("qid"), col("cid")), Seq("qid", "cid"))
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_true"))
        .join(hits, Seq("qid"), "left")
        .select(lit(name).as("method"), col("qid"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_true"), 4)
            .as("recall"))
    }
    val per = recallOf("lsh", lshTopK(spark, dir))
      .unionAll(recallOf("ivf", ivfTopK(spark, dir)))
      .unionAll(recallOf("ivfpq", ivfPqTopK(spark, dir)))
    val mean = per.groupBy("method")
      .agg(round(avg(col("recall")), 4).as("recall"))
      .select(col("method"), lit(-1L).as("qid"), col("recall"))
    per.unionAll(mean).orderBy("method", "qid")
  }

  // ---- PCA projection (landed rotation + portable matmul twin) ------------

  val PcaK = 8 // retained components

  /** Rotation landing path, per-source-dir (two SF dirs verified
    * back-to-back must not poison each other's oracle); `pcaDuckSql`
    * derives the same path from [[RunContext.oracleDir]]. */
  private[graft] def pcaPathFor(dir: String): String =
    graft.TmpLanding.path("graft_pca_rotation", dir)

  /** Mergeable mean+Gram sums over the embedding column: buffer is
    * (n, Σx (d), Σxxᵀ upper triangle in a d² array — mirrored at the
    * covariance build) — fixed-size regardless of corpus size,
    * map-side combine, one ~32 KB partial per partition at d=64. */
  final case class GramBuf(var n: Long, var s: Array[Double],
                           var g: Array[Double])

  class GramAgg extends org.apache.spark.sql.expressions
      .Aggregator[Array[Float], GramBuf, GramBuf] with Serializable {
    override def zero: GramBuf = GramBuf(0L, null, null)
    override def reduce(b: GramBuf, x: Array[Float]): GramBuf = {
      val d = x.length
      if (b.s == null) { b.s = new Array[Double](d); b.g = new Array[Double](d * d) }
      require(b.s.length == d,
        s"embedding length mismatch: ${b.s.length} vs $d")
      var i = 0
      while (i < d) {
        val xi = x(i).toDouble
        b.s(i) += xi
        // symmetric: accumulate the upper triangle only (j >= i) — the
        // covariance build mirrors it, halving the flops of the one
        // corpus-size-proportional pass
        var j = i
        while (j < d) { b.g(i * d + j) += xi * x(j).toDouble; j += 1 }
        i += 1
      }
      b.n += 1
      b
    }
    override def merge(a: GramBuf, c: GramBuf): GramBuf = {
      if (a.s == null) return c
      if (c.s == null) return a
      require(a.s.length == c.s.length,
        s"embedding length mismatch in merge: ${a.s.length} vs ${c.s.length}")
      var i = 0
      while (i < a.s.length) { a.s(i) += c.s(i); i += 1 }
      i = 0
      while (i < a.g.length) { a.g(i) += c.g(i); i += 1 }
      a.n += c.n
      a
    }
    override def finish(b: GramBuf): GramBuf = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[GramBuf] =
      org.apache.spark.sql.Encoders.product[GramBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[GramBuf] =
      org.apache.spark.sql.Encoders.product[GramBuf]
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic sweep order, driver-side on the d×d covariance (a
    * CONSTANT-size solve, the k-means-centroid pattern: the corpus
    * never leaves the executors, only d² sums do). Returns
    * (eigenvalues, eigenvectors as rows), unsorted. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-20) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // the Numerical-Recipes guards: for huge theta, theta² would
            // overflow to Inf and the quotient underflow to 0 — use the
            // asymptotic t ≈ 1/(2θ); exact zero theta means a 45° rotation
            val t =
              if (math.abs(theta) > 1e150) 1.0 / (2.0 * theta)
              else if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // loud on non-convergence: a silently degraded (non-orthonormal)
    // rotation would land as a standing artifact and poison every
    // downstream projection. 64 sweeps is ~6x the quadratic-convergence
    // envelope, so only a genuinely pathological matrix trips this;
    // the bound is relative to the diagonal's scale (the absolute
    // 1e-20 loop exit is unreachable for large-magnitude covariances).
    val diagSq = {
      var s = 0.0; var i = 0
      while (i < n) { s += a(i)(i) * a(i)(i); i += 1 }
      s
    }
    require(off() <= 1e-16 * (1.0 + diagSq),
      s"Jacobi eigensolve failed to converge after 64 sweeps: " +
        s"off=${off()} diagSq=$diagSq (d=$n)")
    (Array.tabulate(n)(i => a(i)(i)),
      Array.tabulate(n)(j => Array.tabulate(n)(i => v(i)(j))))
  }

  /** PCA projection of the embedding table — the dimensionality
    * reduction step before ANN indexing / clustering at scale. One
    * mergeable [[GramAgg]] pass collects (n, Σx, Σxxᵀ) — d² doubles,
    * CONSTANT in corpus size — the covariance eigensolve runs
    * driver-side (cyclic Jacobi, deterministic), and the top-[[PcaK]]
    * rotation rows LAND as a standing artifact with per-component bias
    * `b_j = R_j·μ`. The projection itself is a broadcast join of the
    * 8-row rotation against the corpus — map-side matmul, no shuffle.
    * Oracle: DuckDB recomputes `R_j·x − b_j` from the landed rotation
    * with the identical ascending-index fold (the proven
    * bruteforce-cosine list_sum equivalence), so the distributed
    * projection and the artifact contract are both pinned; the
    * eigensolve is additionally property-checked in `PcaSpec`
    * (orthonormality, descending explained variance, residual
    * reconstruction). Each eigenvector is sign-normalized (largest-
    * magnitude component positive) so the landed artifact is unique. */
  /** Compute the top-[[PcaK]] rotation (one [[GramAgg]] pass + Jacobi)
    * and LAND it at `path` — shared by the plain projection and the
    * whitening variant, which differ only in the per-component scale
    * applied at projection time. */
  private def landRotation(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val emb = spark.table("embeddings")
      .select(col("embedding").as[Array[Float]])
    val agg = new GramAgg().toColumn
    val gb = emb.select(agg).head()
    require(gb.n >= 2 && gb.s != null,
      s"embed_pca needs at least 2 embedding rows, found ${gb.n}")
    val d = gb.s.length
    val n = gb.n.toDouble
    val mu = gb.s.map(_ / n)
    // the aggregator fills the upper triangle only; mirror here
    val cov = Array.tabulate(d, d)((i, j) =>
      (if (j >= i) gb.g(i * d + j) else gb.g(j * d + i)) / n
        - mu(i) * mu(j))
    val (evals, evecs) = jacobiEigen(cov)
    val top = evals.zip(evecs).zipWithIndex
      .sortBy { case ((ev, _), idx) => (-ev, idx) }
      .take(math.min(PcaK, d))
    val rows = top.zipWithIndex.map { case (((ev, vec0), _), comp) =>
      // sign normalization: the largest-|component| entry is positive
      val m = vec0.indices.maxBy(i => (math.abs(vec0(i)), -i))
      val vec = if (vec0(m) < 0) vec0.map(-_) else vec0
      val bias = {
        var s = 0.0; var i = 0
        while (i < d) { s += vec(i) * mu(i); i += 1 }
        s
      }
      (comp, vec, bias, ev)
    }
    rows.toSeq.toDF("comp", "vec", "bias", "eigval")
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Broadcast map-side projection of the corpus against a landed
    * rotation; `scaleSql` divides each centered projection (1 for plain
    * PCA, sqrt(eigval) for whitening). */
  private def projectRotation(spark: SparkSession, rot: DataFrame,
      scaleSql: String, outCol: String): DataFrame =
    spark.table("embeddings").select(col("vec_id"), col("embedding"))
      .join(org.apache.spark.sql.functions.broadcast(rot))
      .select(col("vec_id"), col("comp"),
        // + 0.0 canonicalizes ROUND's -0.0 (a tiny negative projection
        // rounds to negative zero, which the engines print differently)
        expr(s"""ROUND((AGGREGATE(zip_with(vec, embedding,
                |  (a, b) -> a * CAST(b AS DOUBLE)),
                |  CAST(0.0 AS DOUBLE), (s, x) -> s + x) - bias)
                |  / ($scaleSql), 4) + 0.0
                |""".stripMargin.replaceAll("\n", " ")).as(outCol))
      .orderBy("vec_id", "comp")

  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    val rot = landRotation(spark, pcaPathFor(dir))
    projectRotation(spark, rot, "1.0", "pc")
  }

  def pcaDuckSql: String =
    s"""WITH r AS (
       |  SELECT comp, vec, bias
       |  FROM read_parquet('${pcaPathFor(RunContext.oracleDir)}/*.parquet')),
       |e AS (SELECT vec_id, embedding FROM embeddings)
       |SELECT e.vec_id, r.comp,
       |       ROUND(list_sum(list_transform(generate_series(1, len(r.vec)),
       |                i -> r.vec[i] * CAST(e.embedding[i] AS DOUBLE)))
       |             - r.bias, 4) + 0.0 AS pc
       |FROM e CROSS JOIN r
       |ORDER BY vec_id, comp""".stripMargin

  /** PCA WHITENING — the decorrelate-and-equalize preprocessing ANN
    * and clustering want before cosine/Euclidean geometry is meaningful:
    * each centered projection divides by sqrt(λ_j), so all retained
    * components land with unit variance. Identical scale shape to
    * [[pcaProject]] (one mergeable Gram pass, driver d×d eigensolve,
    * broadcast map-side projection); its own landed-rotation artifact
    * keeps the two queries' oracles independent. Components with λ ≤ 0
    * cannot occur among the TOP-k of a covariance with n ≥ 2 distinct
    * rows unless the corpus is rank-deficient below k — sqrt of a tiny
    * positive eigenvalue simply inflates noise, λ exactly 0 would make
    * the quotient NULL-free ±Inf; both engines spell the same quotient,
    * so even the degenerate case stays hash-identical. */
  private[graft] def whitenPathFor(dir: String): String =
    pcaPathFor(dir) + "_whiten"

  def whitenProject(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    val rot = landRotation(spark, whitenPathFor(dir))
    projectRotation(spark, rot, "sqrt(eigval)", "pcw")
  }

  def whitenDuckSql: String =
    s"""WITH r AS (
       |  SELECT comp, vec, bias, eigval
       |  FROM read_parquet('${whitenPathFor(RunContext.oracleDir)}/*.parquet')),
       |e AS (SELECT vec_id, embedding FROM embeddings)
       |SELECT e.vec_id, r.comp,
       |       ROUND((list_sum(list_transform(generate_series(1, len(r.vec)),
       |                i -> r.vec[i] * CAST(e.embedding[i] AS DOUBLE)))
       |             - r.bias) / (sqrt(r.eigval)), 4) + 0.0 AS pcw
       |FROM e CROSS JOIN r
       |ORDER BY vec_id, comp""".stripMargin

  // ---- Orthogonal Procrustes alignment (landed rotation twin) -----------

  /** Aligned output dimensions landed/projected (solve is full-d). */
  val ProcK = 8

  private def procPathFor(dir: String): String =
    graft.TmpLanding.path("graft_procrustes", dir)

  /** Deterministic planted transform: target space B is the source
    * space with coordinates rotated by a half-shift permutation, a
    * sign-flip pattern, and small per-(id, dim) integer-milli noise —
    * so the solver has a known ground truth to recover and BOTH
    * engines can rebuild B from the embeddings table alone. */
  private[graft] def procShift(d: Int): Int = d / 2 + 1
  private[graft] def procSign(j: Int): Int = if ((j * 5 + 1) % 3 == 0) -1 else 1

  /** Mergeable cross-covariance sums: buffer is (n, Σ a·bᵀ as a d²
    * array) — fixed size regardless of corpus size, map-side combine;
    * the full rectangle (not a triangle: a·bᵀ is not symmetric). */
  final case class ProcBuf(var n: Long, var g: Array[Double])

  class ProcAgg extends org.apache.spark.sql.expressions
      .Aggregator[(Array[Double], Array[Double]), ProcBuf, ProcBuf]
      with Serializable {
    override def zero: ProcBuf = ProcBuf(0L, null)
    override def reduce(buf: ProcBuf, x: (Array[Double], Array[Double]))
        : ProcBuf = {
      val (a, b) = x
      val d = a.length
      require(b.length == d, s"pair length mismatch: $d vs ${b.length}")
      if (buf.g == null) buf.g = new Array[Double](d * d)
      require(buf.g.length == d * d,
        s"embedding length mismatch: ${buf.g.length} vs ${d * d}")
      var i = 0
      while (i < d) {
        val ai = a(i)
        var j = 0
        while (j < d) { buf.g(i * d + j) += ai * b(j); j += 1 }
        i += 1
      }
      buf.n += 1
      buf
    }
    override def merge(x: ProcBuf, y: ProcBuf): ProcBuf = {
      if (x.g == null) return y
      if (y.g == null) return x
      require(x.g.length == y.g.length,
        s"length mismatch in merge: ${x.g.length} vs ${y.g.length}")
      var i = 0
      while (i < x.g.length) { x.g(i) += y.g(i); i += 1 }
      x.n += y.n
      x
    }
    override def finish(b: ProcBuf): ProcBuf = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[ProcBuf] =
      org.apache.spark.sql.Encoders.product[ProcBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[ProcBuf] =
      org.apache.spark.sql.Encoders.product[ProcBuf]
  }

  /** Orthogonal factor of the polar decomposition of a cross-
    * covariance M — the orthogonal Procrustes solution
    * R = M (MᵀM)^{−1/2}, computed with the existing [[jacobiEigen]]
    * on the d×d symmetric MᵀM (driver-side constant-size solve, the
    * PCA pattern). Loud on a singular M: a rank-deficient cross-
    * covariance has no unique rotation. */
  private[graft] def procrustesRotation(m: Array[Array[Double]])
      : Array[Array[Double]] = {
    val d = m.length
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += m(k)(i) * m(k)(j); k += 1 }
      s
    }
    val (evals, evecs) = jacobiEigen(mtm)
    val lmax = evals.max
    require(lmax > 0.0 && evals.forall(_ > 1e-12 * lmax),
      s"singular cross-covariance (λmin=${evals.min}, λmax=$lmax) — " +
        "the Procrustes rotation is not unique")
    // (MᵀM)^{−1/2} = Σ_t u_t·u_tᵀ / sqrt(λ_t)
    val inv = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var t = 0
      while (t < d) { s += evecs(t)(i) * evecs(t)(j) / math.sqrt(evals(t)); t += 1 }
      s
    }
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += m(i)(k) * inv(k)(j); k += 1 }
      s
    }
  }

  /** ORTHOGONAL PROCRUSTES embedding-space alignment — the migration
    * step when a corpus re-embeds under a new model and standing
    * artifacts (ANN indexes, centroids, classifiers) live in the old
    * space: solve min_R ||A·R − B||_F over orthogonal R, then map the
    * old vectors through R. B here is a deterministic planted
    * transform of A (permutation + sign flips + integer-milli noise),
    * so the solve has a KNOWN ground-truth rotation — `ProcrustesSpec`
    * pins noise-free exact recovery — and DuckDB can rebuild B from
    * the same embeddings table.
    *
    * Scale shape: ONE mergeable [[ProcAgg]] pass collects M = Σ a·bᵀ
    * (d² doubles, constant in corpus size), the polar solve
    * R = M(MᵀM)^{−1/2} runs driver-side on d×d via the shared Jacobi
    * eigensolver, the first [[ProcK]] rotation columns LAND as a
    * standing artifact, and the projection is a broadcast map-side
    * matmul — no shuffle anywhere but the one aggregation.
    * Oracle: DuckDB recomputes both the aligned projection (from the
    * landed rotation, identical ascending fold) and the target
    * coordinate (from the planted-transform formula) — alignment
    * quality is directly visible as aligned ≈ target. */
  def procrustesAlign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.register(spark, dir)
    val procPath = procPathFor(dir)
    val pairs = spark.table("embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, a) =>
        val d = a.length
        val sh = procShift(d)
        val b = Array.tabulate(d) { j =>
          procSign(j) * a((j + sh) % d).toDouble +
            ((id * 37 + j * 11) % 13 - 6) / 1000.0
        }
        (a.map(_.toDouble), b)
      }
    val gb = pairs.select(new ProcAgg().toColumn).head()
    require(gb.n >= 2 && gb.g != null,
      s"embed_procrustes needs at least 2 embedding rows, found ${gb.n}")
    val d = math.round(math.sqrt(gb.g.length.toDouble)).toInt
    val m = Array.tabulate(d, d)((i, j) => gb.g(i * d + j))
    val r = procrustesRotation(m)
    val sh = procShift(d)
    val rows = (0 until math.min(ProcK, d)).map { comp =>
      (comp, Array.tabulate(d)(i => r(i)(comp)),
        (comp + sh) % d, procSign(comp))
    }
    rows.toDF("comp", "rvec", "src_idx", "sgn")
      .coalesce(1).write.mode("overwrite").parquet(procPath)
    val rot = spark.read.parquet(procPath)
    spark.table("embeddings").select(col("vec_id"), col("embedding"))
      .join(org.apache.spark.sql.functions.broadcast(rot))
      .select(col("vec_id"), col("comp"),
        expr("""ROUND(AGGREGATE(zip_with(rvec, embedding,
               |  (a, b) -> a * CAST(b AS DOUBLE)),
               |  CAST(0.0 AS DOUBLE), (s, x) -> s + x), 4) + 0.0
               |""".stripMargin.replaceAll("\n", " ")).as("aligned"),
        expr("""ROUND(CAST(sgn AS DOUBLE) *
               |  CAST(element_at(embedding, src_idx + 1) AS DOUBLE) +
               |  CAST((vec_id * 37 + comp * 11) % 13 - 6 AS DOUBLE)
               |    / 1000.0, 4) + 0.0
               |""".stripMargin.replaceAll("\n", " ")).as("target"))
      .orderBy("vec_id", "comp")
  }

  def procrustesDuckSql: String =
    s"""WITH r AS (
       |  SELECT comp, rvec, src_idx, sgn
       |  FROM read_parquet('${procPathFor(RunContext.oracleDir)}/*.parquet')),
       |e AS (SELECT vec_id, embedding FROM embeddings)
       |SELECT e.vec_id, r.comp,
       |       ROUND(list_sum(list_transform(generate_series(1, len(r.rvec)),
       |                i -> r.rvec[i] * CAST(e.embedding[i] AS DOUBLE))),
       |             4) + 0.0 AS aligned,
       |       ROUND(CAST(r.sgn AS DOUBLE) *
       |               CAST(e.embedding[r.src_idx + 1] AS DOUBLE) +
       |             CAST((e.vec_id * 37 + r.comp * 11) % 13 - 6 AS DOUBLE)
       |               / 1000.0, 4) + 0.0 AS target
       |FROM e CROSS JOIN r
       |ORDER BY vec_id, comp""".stripMargin

  /** Symmetric int8 quantization of the embedding column (the storage
    * layout ANN indexes and training pipelines ship vectors in): scale =
    * max|x|/127, q_i = floor(x_i·127/max|x| + 0.5). Emitted as exact
    * integer summaries so the oracle recomputes bit-identically — both
    * engines evaluate the same double-precision expression tree. Pure
    * projection: map-side only, no shuffle, 4× smaller vectors at scale. */
  val quantizeSparkSql: String =
    """WITH a AS (
      |  SELECT vec_id, embedding,
      |         AGGREGATE(embedding, CAST(0.0 AS DOUBLE),
      |                   (m, x) -> GREATEST(m, ABS(CAST(x AS DOUBLE)))) AS amax
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |         TRANSFORM(embedding, x -> CAST(FLOOR(
      |           CASE WHEN amax = 0 THEN CAST(0.0 AS DOUBLE)
      |                ELSE CAST(x AS DOUBLE) * 127.0 / amax END
      |           + 0.5) AS BIGINT)) AS qv
      |  FROM a)
      |SELECT vec_id,
      |       CAST(ARRAY_MIN(qv) AS BIGINT) AS q_min,
      |       CAST(ARRAY_MAX(qv) AS BIGINT) AS q_max,
      |       CAST(AGGREGATE(qv, CAST(0 AS BIGINT), (s, x) -> s + x) AS BIGINT) AS q_sum,
      |       CAST(AGGREGATE(qv, CAST(0 AS BIGINT), (s, x) -> s + x * x) AS BIGINT) AS q_sumsq
      |FROM q ORDER BY vec_id""".stripMargin

  val quantizeDuckSql: String =
    """WITH a AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding,
      |                  x -> ABS(CAST(x AS DOUBLE)))) AS amax
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(FLOOR(
      |           CASE WHEN amax = 0 THEN CAST(0.0 AS DOUBLE)
      |                ELSE CAST(x AS DOUBLE) * 127.0 / amax END
      |           + 0.5) AS BIGINT)) AS qv
      |  FROM a)
      |SELECT vec_id,
      |       CAST(list_min(qv) AS BIGINT) AS q_min,
      |       CAST(list_max(qv) AS BIGINT) AS q_max,
      |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
      |       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_sumsq
      |FROM q ORDER BY vec_id""".stripMargin

  /** Per-label centroid (class-prototype) vectors — the aggregation a
    * curation pipeline runs for label prototypes, outlier distance, and
    * per-class drift monitoring. Elements are quantized to integer
    * micro-units BEFORE summing (same trick as the LM scorer), so the
    * per-(label, dim) reduction is exact integer arithmetic — order-
    * independent and engine-exact; the rounded centroid derives from the
    * exact sum. Dimension explode is map-side; the aggregate has
    * labels x dims groups (tiny) with map-side partials. */
  val centroidsSparkSql: String =
    """WITH e AS (
      |  SELECT label, p1 AS dim,
      |         CAST(ROUND(element_at(embedding, p1) * 1e6) AS BIGINT) AS v
      |  FROM embeddings
      |  LATERAL VIEW posexplode(sequence(1, size(embedding))) x AS idx, p1)
      |SELECT label, CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
      |       CAST(SUM(v) AS BIGINT) AS sum_micro,
      |       ROUND(CAST(SUM(v) AS DOUBLE) / 1e6 / COUNT(*), 4) + 0 AS centroid
      |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin

  val centroidsDuckSql: String =
    """WITH e0 AS (
      |  SELECT label,
      |         [{'dim': i, 'v': CAST(ROUND(embedding[i] * 1e6) AS BIGINT)}
      |          for i in generate_series(1, len(embedding))] AS ds
      |  FROM embeddings),
      |e AS (
      |  SELECT label, s.dim AS dim, s.v AS v
      |  FROM (SELECT label, unnest(ds) AS s FROM e0))
      |SELECT label, CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
      |       CAST(SUM(v) AS BIGINT) AS sum_micro,
      |       ROUND(CAST(SUM(v) AS DOUBLE) / 1e6 / COUNT(*), 4) + 0 AS centroid
      |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** Embedding-space outlier flagging — the quality-filter consumer of
    * the centroid table: squared L2 distance of every vector to its
    * label's (micro-unit-rounded) centroid, flagged when the distance
    * exceeds 1.05x the label's mean distance (the synthetic uniform
    * embeddings concentrate distances within ~12% of the mean; real
    * corpora would use 2-3x). All reductions are exact
    * integer sums (micro-unit elements, integer centroid), so both the
    * distances and the flag thresholds are engine- and order-exact.
    * Scale shape: two tiny aggregates (labels x dims centroids;
    * per-label mean distances) broadcast back onto the element stream —
    * the embedding table streams map-side twice, never self-joins. */
  val outliersSparkSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, p1 AS dim,
      |         CAST(ROUND(element_at(embedding, p1) * 1e6) AS BIGINT) AS v
      |  FROM embeddings
      |  LATERAL VIEW posexplode(sequence(1, size(embedding))) x AS idx, p1),
      |c AS (
      |  SELECT label, dim,
      |         CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
      |  FROM e GROUP BY label, dim),
      |d AS (
      |  SELECT e.vec_id, e.label,
      |         SUM((e.v - c.cv) * (e.v - c.cv)) AS dist2
      |  FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
      |  GROUP BY e.vec_id, e.label),
      |m AS (
      |  SELECT label, CAST(SUM(dist2) AS DOUBLE) / COUNT(*) AS mean2
      |  FROM d GROUP BY label)
      |SELECT d.vec_id, d.label, CAST(d.dist2 AS BIGINT) AS dist2,
      |       CAST(CASE WHEN d.dist2 > 1.05 * m.mean2 THEN 1 ELSE 0 END
      |            AS BIGINT) AS is_outlier
      |FROM d JOIN m ON d.label = m.label
      |ORDER BY d.vec_id""".stripMargin

  val outliersDuckSql: String =
    """WITH e0 AS (
      |  SELECT vec_id, label,
      |         [{'dim': i, 'v': CAST(ROUND(embedding[i] * 1e6) AS BIGINT)}
      |          for i in generate_series(1, len(embedding))] AS ds
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, label, s.dim AS dim, s.v AS v
      |  FROM (SELECT vec_id, label, unnest(ds) AS s FROM e0)),
      |c AS (
      |  SELECT label, dim,
      |         CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
      |  FROM e GROUP BY label, dim),
      |d AS (
      |  SELECT e.vec_id, e.label,
      |         SUM((e.v - c.cv) * (e.v - c.cv)) AS dist2
      |  FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
      |  GROUP BY e.vec_id, e.label),
      |m AS (
      |  SELECT label, CAST(SUM(dist2) AS DOUBLE) / COUNT(*) AS mean2
      |  FROM d GROUP BY label)
      |SELECT d.vec_id, d.label, CAST(d.dist2 AS BIGINT) AS dist2,
      |       CAST(CASE WHEN d.dist2 > 1.05 * m.mean2 THEN 1 ELSE 0 END
      |            AS BIGINT) AS is_outlier
      |FROM d JOIN m ON d.label = m.label
      |ORDER BY d.vec_id""".stripMargin

  // ---- portable RHP-LSH (full ANN pipeline, cross-engine) -----------------

  /** Portable random-hyperplane signature CTEs, spelled once per engine.
    *
    * The production LSH path (`rhp_sig`, 64-bit signatures) hashes on the
    * 2^64 ring DuckDB cannot express; this portable twin exists so the
    * ENTIRE sublinear ANN pipeline — hyperplane projection → sign bits →
    * banded bucketing → candidate join → exact re-rank — is hash-checked
    * against an engine sharing none of the code (the same role
    * `dedup_minhash_lsh_portable` plays for MinHash). Hyperplane weights
    * are small deterministic integers `(19·(64p+i)+41) mod 1009 − 504`,
    * so every projection is a sum of exact double products folded
    * left-to-right — bit-identical in both engines (the convention
    * `sim_bruteforce_topk` already proves for `list_sum` vs the SQL
    * `aggregate` fold). 32 planes → 4 bands × 8 bits. */
  private val PortPlanes = 32
  private val PortBandBits = 8
  private val Dim = 64 // embeddings fixture dimensionality (TESTDATA.md)

  /** Spark CTEs: e (doubles), sg (sign bits), bd ((vec_id, band, key)).
    * `bandBits` trades recall vs bucket size: the top-k twin keeps the
    * production 8-bit bands (multiprobe recovers recall); the dedup twin
    * uses 4-bit bands — all-pairs blocking has no multiprobe, so finer
    * bands would miss the near-threshold pairs the anchor exists to
    * check. */
  private def portSigSparkCtes(bandBits: Int = PortBandBits): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
       |  FROM embeddings),
       |sg AS (
       |  SELECT vec_id, embedding,
       |         transform(sequence(0, ${PortPlanes - 1}), p -> IF(
       |           aggregate(transform(sequence(1, $Dim), i ->
       |             CAST((19 * (p * $Dim + i) + 41) % 1009 - 504 AS DOUBLE)
       |               * element_at(emb, i)), 0D, (s, x) -> s + x) > 0D,
       |           1, 0)) AS sig
       |  FROM e),
       |bd AS (
       |  SELECT vec_id, b,
       |         CAST(aggregate(transform(sequence(0, ${bandBits - 1}), j ->
       |           element_at(sig, b * $bandBits + j + 1)
       |             * CAST(shiftleft(1, j) AS INT)), 0, (s, x) -> s + x)
       |           AS INT) AS bk
       |  FROM sg
       |  LATERAL VIEW explode(sequence(0, ${PortPlanes / bandBits - 1}))
       |    t AS b)""".stripMargin

  /** DuckDB spelling of the same three CTEs. */
  private def portSigDuckCtes(bandBits: Int = PortBandBits): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
       |  FROM embeddings),
       |sg AS (
       |  SELECT vec_id, embedding,
       |         list_transform(range(0, $PortPlanes), p -> CASE WHEN
       |           list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |             CAST((19 * (p * $Dim + i) + 41) % 1009 - 504 AS DOUBLE)
       |               * emb[i])) > 0 THEN 1 ELSE 0 END) AS sig
       |  FROM e),
       |bd AS (
       |  SELECT vec_id, b,
       |         CAST(list_sum(list_transform(range(0, $bandBits), j ->
       |           sig[b * $bandBits + j + 1] * (1 << j))) AS INTEGER) AS bk
       |  FROM sg CROSS JOIN (SELECT unnest(range(0,
       |    ${PortPlanes / bandBits})) AS b) bs)""".stripMargin

  /** Materialized portable-signature table (vec_id, embedding, sig),
    * cached per (session, dir): the 32-plane projection is the expensive
    * part of every portable query (2048 interpreted fold steps per
    * vector), and Spark re-inlines a CTE into each of its consumers —
    * the three portable pipelines reference the signature 2-4x each, so
    * the SQL spelling recomputed it per reference (measured 4x at
    * sf0.1). One cached projection restores compute-once semantics; the
    * expression is element-wise identical to the `sg` CTE the DuckDB
    * oracles use (CAST-inside-fold == fold-over-pre-CAST list). */
  private val portSigCache =
    new graft.BoundedCache[DataFrame](max = 8, _.unpersist())

  private def portSigTable(spark: SparkSession, dir: String): DataFrame = {
    portSigCache.get(graft.BoundedCache.key(spark, dir))(
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), expr(
          s"""transform(sequence(0, ${PortPlanes - 1}), p -> IF(
             |  aggregate(transform(sequence(1, $Dim), i ->
             |    CAST((19 * (p * $Dim + i) + 41) % 1009 - 504 AS DOUBLE)
             |      * CAST(element_at(embedding, i) AS DOUBLE)),
             |    0D, (s, x) -> s + x) > 0D, 1, 0))""".stripMargin).as("sig"))
        .cache())
  }

  /** (vec_id, b, bk) band rows off the materialized signatures —
    * semantics of the `bd` CTE. */
  private def portBands(sig: DataFrame, bandBits: Int): DataFrame =
    sig.select(col("vec_id"), posexplode(expr(
      s"""transform(sequence(0, ${PortPlanes / bandBits - 1}), b ->
         |  CAST(aggregate(transform(sequence(0, ${bandBits - 1}), j ->
         |    element_at(sig, b * $bandBits + j + 1)
         |      * CAST(shiftleft(1, j) AS INT)), 0, (s, x) -> s + x)
         |    AS INT))""".stripMargin)).as(Seq("b", "bk")))

  /** Portable top-k off the materialized signatures — row-identical to
    * [[lshPortableSparkSql]] (the DuckDB oracle's spelling). */
  private def lshTopKPortable(spark: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(spark)
    val sig = portSigTable(spark, dir)
    val bands = portBands(sig, PortBandBits)
    val qp = bands.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("b"), explode(expr(
        s"transform(sequence(0, $PortBandBits), j -> " +
          "CASE WHEN j = 0 THEN bk ELSE CAST(bk ^ shiftleft(1, j - 1) AS INT) END)"))
        .as("bk"))
    val cd = qp.join(bands.toDF("cid", "b", "bk"), Seq("b", "bk"))
      .where(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    val cosine = call_function("vec_cosine", col("qe"), col("ce"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cd.join(sig.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(sig.select(col("vec_id").as("cid"), col("embedding").as("ce")), "cid")
      .select(col("qid"), col("cid"), cosine.as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= K)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rn")
  }

  /** Portable all-pairs dedup off the materialized signatures —
    * row-identical to [[embDedupPortableSparkSql]]. */
  private def embDedupPortable(spark: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(spark)
    val sig = portSigTable(spark, dir)
    val bands = portBands(sig, 4)
    val k = bands.join(
      bands.groupBy("b", "bk").count()
        .where(col("count").between(2, graft.dedup.Dedup.MaxBucket))
        .select("b", "bk"),
      Seq("b", "bk"))
    val pairs = k.select(col("b"), col("bk"), col("vec_id").as("vec_a"))
      .join(k.select(col("b"), col("bk"), col("vec_id").as("vec_b")), Seq("b", "bk"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val cosine = call_function("vec_cosine", col("ea"), col("eb"))
    pairs
      .join(sig.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(sig.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine.as("cos"))
      .where(col("cos") >= 0.40)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Portable semantic dedup off the materialized signatures —
    * row-identical to [[semanticPortableSparkSql]]. */
  private def semanticPortable(spark: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(spark)
    val sig = portSigTable(spark, dir)
    val cells = portBands(sig, PortBandBits).where(col("b") === 0)
      .select(col("vec_id"), col("bk").as("cell"))
    val k = cells.join(
      cells.groupBy("cell").count()
        .where(col("count").between(2, graft.dedup.Dedup.MaxBucket))
        .select("cell"),
      Seq("cell"))
    val cosine = call_function("vec_cosine", col("ea"), col("eb"))
    val dup = k.select(col("cell"), col("vec_id").as("vec_a"))
      .join(k.select(col("cell"), col("vec_id").as("vec_b")), Seq("cell"))
      .where(col("vec_a") < col("vec_b"))
      .join(sig.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(sig.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine.as("cos"))
      .where(col("cos") >= 0.40)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"),
        min_by(col("cos"), col("vec_a")).as("dup_cos"))
    cells.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("keep"),
        col("dup_of"), round(col("dup_cos"), 4).as("dup_cos"))
      .orderBy("vec_id")
  }

  /** Exact-cosine re-rank tail shared by the portable top-k: same
    * spelling as `sim_bruteforce_topk` (proven bit-exact cross-engine). */
  val lshPortableSparkSql: String =
    s"""${portSigSparkCtes()},
       |qp AS (
       |  SELECT vec_id AS qid, b,
       |         CAST(CASE WHEN j = 0 THEN bk
       |              ELSE bk ^ shiftleft(1, j - 1) END AS INT) AS bk
       |  FROM bd LATERAL VIEW explode(sequence(0, $PortBandBits)) t AS j
       |  WHERE vec_id < $NumQueries),
       |cd AS (
       |  SELECT DISTINCT qp.qid, c.vec_id AS cid
       |  FROM qp JOIN bd c ON qp.b = c.b AND qp.bk = c.bk
       |  WHERE qp.qid <> c.vec_id),
       |s AS (
       |  SELECT qid, cid, vec_cosine(qe.embedding, ce.embedding) AS cos
       |  FROM cd JOIN e qe ON qe.vec_id = cd.qid
       |          JOIN e ce ON ce.vec_id = cd.cid)
       |SELECT qid, cid, rn, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  val lshPortableDuckSql: String =
    s"""${portSigDuckCtes()},
       |qp AS (
       |  SELECT vec_id AS qid, b,
       |         CAST(CASE WHEN j = 0 THEN bk
       |              ELSE xor(bk, 1 << (j - 1)) END AS INTEGER) AS bk
       |  FROM bd CROSS JOIN (SELECT unnest(range(0, ${PortBandBits + 1}))
       |                      AS j) js
       |  WHERE vec_id < $NumQueries),
       |cd AS (
       |  SELECT DISTINCT qp.qid, c.vec_id AS cid
       |  FROM qp JOIN bd c ON qp.b = c.b AND qp.bk = c.bk
       |  WHERE qp.qid <> c.vec_id),
       |s AS (
       |  SELECT qid, cid,
       |    list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(qe.embedding,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(ce.embedding,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
       |  FROM cd JOIN e qe ON qe.vec_id = cd.qid
       |          JOIN e ce ON ce.vec_id = cd.cid)
       |SELECT qid, cid, rn, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  /** Portable twin of `sim_ivf_topk`: the k-means coarse quantizer
    * itself is DuckDB-inexpressible, so land the BUILT index (centroids
    * + cell-assigned corpus — the build-once artifact a 100 TB
    * deployment stores anyway) and run the whole serving path — probe
    * election (top `max(5, ceil(ProbeFraction·k))` cells by cosine,
    * ties to the lower cell), cell equi-join, exact re-rank — from those
    * landed bits in BOTH engines. Checks probe/re-rank APPLICATION the
    * same way `raster_resample_conv` checks kernel application. */
  private def ivfPortPath(dir: String): String =
    graft.TmpLanding.path("graft_ivf_port", dir)
  private def ivfTopKPortable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    VecFunctions.register(spark)
    val path = ivfPortPath(dir)
    val (model, assigned) = ivfIndex(spark, dir)
    model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    assigned
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("int").as("cell"))
      .write.mode("overwrite").parquet(s"$path/cells")
    spark.read.parquet(s"$path/centroids")
      .createOrReplaceTempView("graft_ivf_port_cent")
    spark.read.parquet(s"$path/cells")
      .createOrReplaceTempView("graft_ivf_port_cells")
    spark.sql(ivfPortableSparkSql)
  }

  /** Probe + re-rank from the landed index, Spark spelling. The probe
    * cosine folds dimension-ascending (same order both engines); probe
    * count re-derived from the landed centroid count so the SQL stays
    * static while k tracks the data. */
  private val ivfPortableSparkSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qe
       |  FROM graft_ivf_port_cells WHERE vec_id < $NumQueries),
       |np AS (
       |  SELECT GREATEST(5, CAST(CEIL($ProbeFraction * COUNT(*)) AS INT))
       |         AS p
       |  FROM graft_ivf_port_cent),
       |qc AS (
       |  SELECT qid, cell,
       |    aggregate(transform(sequence(1, $Dim), i ->
       |      CAST(element_at(qe, i) AS DOUBLE) * element_at(centroid, i)),
       |      0D, (s, x) -> s + x) /
       |    (sqrt(aggregate(transform(qe,
       |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
       |        0D, (s, x) -> s + x)) *
       |     sqrt(aggregate(transform(centroid, v -> v * v),
       |        0D, (s, x) -> s + x))) AS ccos
       |  FROM q CROSS JOIN graft_ivf_port_cent),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |                              ORDER BY ccos DESC, cell) AS r
       |    FROM qc) t, np WHERE t.r <= np.p),
       |s AS (
       |  SELECT probe.qid, a.vec_id AS cid,
       |         vec_cosine(qe.qe, a.embedding) AS cos
       |  FROM probe JOIN graft_ivf_port_cells a ON a.cell = probe.cell
       |       JOIN q qe ON qe.qid = probe.qid
       |  WHERE a.vec_id <> probe.qid)
       |SELECT qid, cid, rn, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |                            ORDER BY cos DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  private def ivfPortableDuckSql: String =
    s"""WITH cent AS (
       |  SELECT cell, centroid
       |  FROM read_parquet('${ivfPortPath(RunContext.oracleDir)}/centroids/*.parquet')),
       |a AS (
       |  SELECT vec_id, embedding, cell
       |  FROM read_parquet('${ivfPortPath(RunContext.oracleDir)}/cells/*.parquet')),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qe
       |  FROM a WHERE vec_id < $NumQueries),
       |np AS (
       |  SELECT GREATEST(5, CAST(CEIL($ProbeFraction * COUNT(*)) AS INT))
       |         AS p
       |  FROM cent),
       |qc AS (
       |  SELECT qid, cell,
       |    list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      CAST(qe[i] AS DOUBLE) * centroid[i])) /
       |    (sqrt(list_sum(list_transform(qe,
       |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(centroid, v -> v * v)))) AS ccos
       |  FROM q CROSS JOIN cent),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |                              ORDER BY ccos DESC, cell) AS r
       |    FROM qc) t, np WHERE t.r <= np.p),
       |s AS (
       |  SELECT probe.qid, a.vec_id AS cid,
       |    list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      CAST(qe.qe[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(qe.qe,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(a.embedding,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
       |  FROM probe JOIN a ON a.cell = probe.cell
       |       JOIN q qe ON qe.qid = probe.qid
       |  WHERE a.vec_id <> probe.qid)
       |SELECT qid, cid, rn, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |                            ORDER BY cos DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  /** PageRank over an ANN-BUILT edge list — the 100 TB closure of the
    * graph family: the kNN-fixture graph (`sim_knn_graph`, K=8 k-means
    * cells) has Σ|cell|² = N²/8 pair space and is excluded at sf10 by
    * design, while THIS construction blocks candidates by the
    * sf10-proven IVF coarse quantizer (√N cells → Σ|cell|² ≈ N^1.5,
    * each cell an independent task), so edge building scales with the
    * index, not the corpus squared. The built edges LAND as a parquet
    * artifact (the persisted-index pattern) and [[PageRank.rank]]'s
    * exact-integer kernel runs over the landed file; the oracle
    * replays the same unrolled integer iteration from the same landed
    * parquet — rank arithmetic is BIGINT end-to-end, so the row is a
    * full hash match (the `sim_ivf_topk_portable` landed-artifact
    * pattern). */
  private[graft] def annEdgePath(dir: String): String =
    graft.TmpLanding.path("graft_ann_edges", dir)

  /** Landed-path latch (nothing pinned to release). */
  private val annLanded = new graft.BoundedCache[String](max = 4, _ => ())

  /** The landed ANN edge list, built at most once per (application,
    * dir) between cache clears (the `knnGraphCached` contract:
    * concurrent first consumers serialize, a failed build leaves the
    * key unlatched, the path records only after a successful write).
    * All four `graph_*_ann` analytics and every oracle read this one
    * artifact; a rebuild rewrites it with the same rows. */
  private[graft] def annEdges(spark: SparkSession, dir: String): DataFrame = {
    val path = annLanded.get(graft.BoundedCache.key(spark, dir)) {
      VecFunctions.register(spark)
      val p = annEdgePath(dir)
      val (_, assigned) = ivfIndex(spark, dir)
      val nbr = assigned.select(col("cell"), col("vec_id").as("nbr_id"),
        col("embedding").as("ne"))
      // cell-local candidate generation (equi-join on the cell id), exact
      // cosine re-rank via the codegen'd native expression; top-KnnK per
      // vector through the bounded heap aggregator — map-side size-K
      // heaps with partial merge, so the candidate stream (Σ|cell|² pairs)
      // is never sorted and the only exchange ships N five-entry heaps
      // (the window spelling sorted the full pair stream: 9e7 rows at
      // 100x bench scale)
      val topk = udaf(new graft.relational.TopK.GroupedTopK(Kmeans.KnnK),
        org.apache.spark.sql.Encoders.product[graft.relational.TopK.TopKIn])
      assigned.join(nbr, Seq("cell"))
        .where(col("vec_id") =!= col("nbr_id"))
        .select(col("vec_id"),
          col("nbr_id"),
          call_function("vec_cosine", col("embedding"), col("ne")).as("cos"))
        .groupBy("vec_id")
        .agg(topk(col("cos"), col("nbr_id")).as("t"))
        .select(col("vec_id").as("src"), explode(col("t.ids")).as("dst"))
        .coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  private def pageRankAnn(spark: SparkSession, dir: String): DataFrame = {
    val edges = annEdges(spark, dir)
    val nodes = Tables.load(spark, dir, "embeddings").select("vec_id")
    PageRank.rank(nodes, edges)
  }

  private def pageRankAnnDuckSql: String = PageRank.rankDuckSqlFrom(
    s"""WITH ed AS (
       |  SELECT src, dst
       |  FROM read_parquet('${annEdgePath(RunContext.oracleDir)}/*.parquet')),
       |nd AS (SELECT vec_id FROM embeddings)""".stripMargin)

  /** Portable twin of `sim_ivfpq_topk`: codebook TRAINING (Lloyd
    * iterations) is DuckDB-inexpressible, but everything after it is
    * arithmetic — so land the built PQ index (coarse centroids, the
    * triple-nested codebooks, the encoded corpus with codes + stored
    * norms) and run the whole ADC serving path from those bits in BOTH
    * engines: probe election, per-query LUT (q·codebook-cell dots),
    * `ip ≈ q·centroid + Σ_m lut[m][code_m]`, approximate-cosine
    * shortlist of RefineFactor·K, bounded exact re-rank. Every fold is
    * dimension-/subspace-ascending in both spellings (the proven
    * aggregate ≡ list_sum equivalence), so the asymmetric-distance
    * pipeline — code indexing, norm handling, shortlist cut, refine —
    * gets a cross-engine hash anchor. */
  private def pqPortPath(dir: String): String =
    graft.TmpLanding.path("graft_pq_port", dir)
  private def ivfPqTopKPortable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    VecFunctions.register(spark)
    val path = pqPortPath(dir)
    val centroids = ivfModel(spark, dir).clusterCenters
    val (codebooks, encoded) = pqIndex(spark, dir)
    centroids.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    Seq(Tuple1(codebooks.map(_.map(_.toSeq).toSeq).toSeq)).toDF("cb")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    encoded
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("int").as("cell"), col("codes"), col("xnorm"))
      .write.mode("overwrite").parquet(s"$path/encoded")
    spark.read.parquet(s"$path/centroids")
      .createOrReplaceTempView("graft_pq_port_cent")
    spark.read.parquet(s"$path/codebooks")
      .createOrReplaceTempView("graft_pq_port_cb")
    spark.read.parquet(s"$path/encoded")
      .createOrReplaceTempView("graft_pq_port_enc")
    spark.sql(pqPortableSparkSql)
  }

  private def subDimP = 64 / PqM // 8; spelled into the static SQL below

  private val pqPortableSparkSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qe
       |  FROM graft_pq_port_enc WHERE vec_id < $NumQueries),
       |np AS (
       |  SELECT GREATEST(5, CAST(CEIL($ProbeFraction * COUNT(*)) AS INT))
       |         AS p
       |  FROM graft_pq_port_cent),
       |qn AS (
       |  SELECT qid, qe,
       |    sqrt(aggregate(transform(qe,
       |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
       |      0D, (s, x) -> s + x)) AS qnorm,
       |    transform(sequence(0, ${PqM - 1}), m ->
       |      transform(sequence(0, ${PqKs - 1}), j ->
       |        aggregate(sequence(1, $subDimP), 0D, (s, t) -> s +
       |          CAST(element_at(qe, m * $subDimP + t) AS DOUBLE) *
       |          element_at(element_at(element_at(cb, m + 1), j + 1), t))))
       |      AS lut
       |  FROM q CROSS JOIN graft_pq_port_cb),
       |qc AS (
       |  SELECT qid, qe, qnorm, lut, cell,
       |    aggregate(transform(sequence(1, $Dim), i ->
       |      CAST(element_at(qe, i) AS DOUBLE) * element_at(centroid, i)),
       |      0D, (s, x) -> s + x) AS qcdot,
       |    sqrt(aggregate(transform(centroid, v -> v * v),
       |      0D, (s, x) -> s + x)) AS cnorm
       |  FROM qn CROSS JOIN graft_pq_port_cent),
       |probe AS (
       |  SELECT qid, cell, qcdot, qnorm, lut FROM (
       |    SELECT qid, cell, qcdot, qnorm, lut,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY CASE WHEN cnorm = 0D THEN 0D
       |                      ELSE qcdot / (cnorm * qnorm) END DESC,
       |               cell) AS r
       |    FROM qc) t, np WHERE t.r <= np.p),
       |adc AS (
       |  SELECT probe.qid, e.vec_id AS cid,
       |    CASE WHEN e.xnorm > 0D THEN
       |      (qcdot + aggregate(sequence(0, ${PqM - 1}), 0D, (s, m) -> s +
       |        element_at(element_at(lut, m + 1),
       |                   element_at(e.codes, m + 1) + 1))) /
       |      (qnorm * e.xnorm)
       |    ELSE 0D END AS cos_approx
       |  FROM probe JOIN graft_pq_port_enc e ON e.cell = probe.cell
       |  WHERE e.vec_id <> probe.qid),
       |short AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |                              ORDER BY cos_approx DESC, cid) AS arn
       |    FROM adc) t
       |  WHERE arn <= ${K * PqRefineFactor}),
       |s AS (
       |  SELECT short.qid, short.cid, vec_cosine(q.qe, e.embedding) AS cos
       |  FROM short JOIN q ON q.qid = short.qid
       |       JOIN graft_pq_port_enc e ON e.vec_id = short.cid)
       |SELECT qid, cid, rn, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |                            ORDER BY cos DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  private def pqPortableDuckSql: String =
    s"""WITH cent AS (
       |  SELECT cell, centroid
       |  FROM read_parquet('${pqPortPath(RunContext.oracleDir)}/centroids/*.parquet')),
       |cbt AS (
       |  SELECT cb FROM read_parquet('${pqPortPath(RunContext.oracleDir)}/codebooks/*.parquet')),
       |enc AS (
       |  SELECT vec_id, embedding, cell, codes, xnorm
       |  FROM read_parquet('${pqPortPath(RunContext.oracleDir)}/encoded/*.parquet')),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qe
       |  FROM enc WHERE vec_id < $NumQueries),
       |np AS (
       |  SELECT GREATEST(5, CAST(CEIL($ProbeFraction * COUNT(*)) AS INT))
       |         AS p
       |  FROM cent),
       |qn AS (
       |  SELECT qid, qe,
       |    sqrt(list_sum(list_transform(qe,
       |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS qnorm,
       |    list_transform(range(0, $PqM), m ->
       |      list_transform(range(0, $PqKs), j ->
       |        list_sum(list_transform(range(1, ${subDimP + 1}), t ->
       |          CAST(qe[m * $subDimP + t] AS DOUBLE) *
       |          cb[m + 1][j + 1][t])))) AS lut
       |  FROM q CROSS JOIN cbt),
       |qc AS (
       |  SELECT qid, qe, qnorm, lut, cell,
       |    list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      CAST(qe[i] AS DOUBLE) * centroid[i])) AS qcdot,
       |    sqrt(list_sum(list_transform(centroid, v -> v * v))) AS cnorm
       |  FROM qn CROSS JOIN cent),
       |probe AS (
       |  SELECT qid, cell, qcdot, qnorm, lut FROM (
       |    SELECT qid, cell, qcdot, qnorm, lut,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY CASE WHEN cnorm = 0 THEN 0
       |                      ELSE qcdot / (cnorm * qnorm) END DESC,
       |               cell) AS r
       |    FROM qc) t, np WHERE t.r <= np.p),
       |adc AS (
       |  SELECT probe.qid, e.vec_id AS cid,
       |    CASE WHEN e.xnorm > 0 THEN
       |      (qcdot + list_sum(list_transform(range(0, $PqM), m ->
       |        lut[m + 1][e.codes[m + 1] + 1]))) /
       |      (qnorm * e.xnorm)
       |    ELSE 0 END AS cos_approx
       |  FROM probe JOIN enc e ON e.cell = probe.cell
       |  WHERE e.vec_id <> probe.qid),
       |short AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |                              ORDER BY cos_approx DESC, cid) AS arn
       |    FROM adc) t
       |  WHERE arn <= ${K * PqRefineFactor}),
       |s AS (
       |  SELECT short.qid, short.cid,
       |    list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(q.qe,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(e.embedding,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
       |  FROM short JOIN q ON q.qid = short.qid
       |       JOIN enc e ON e.vec_id = short.cid)
       |SELECT qid, cid, rn, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |                            ORDER BY cos DESC, cid) AS rn
       |  FROM s) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  /** `sim_index_persist` oracle: per-cell occupancy re-derived by
    * DuckDB straight from the landed hive-partitioned cells plus the
    * centroid sidecar — a lossy save or a mis-encoded partition column
    * breaks the compare. */
  private def indexPersistDuckSql: String =
    s"""WITH occ AS (
       |  SELECT CAST(cell AS INTEGER) AS cell, COUNT(*) AS n
       |  FROM read_parquet('${ivfIndexPath(RunContext.oracleDir)}/cells/*/*.parquet',
       |                    hive_partitioning=1)
       |  GROUP BY 1),
       |nc AS (
       |  SELECT COUNT(*) AS n_centroids
       |  FROM read_parquet('${ivfIndexPath(RunContext.oracleDir)}/centroids/*.parquet'))
       |SELECT cell, n AS n_live, n AS n_reloaded, n_centroids
       |FROM occ, nc ORDER BY cell""".stripMargin

  /** Portable twin of `dedup_embedding_cosine` (nearDupPairs): banded
    * signature buckets with the shared `MaxBucket` cap, pair generation,
    * exact-cosine threshold verify — all mirrored in DuckDB, so the
    * embedding-dedup pipeline's bucket-cap and verify semantics get the
    * same cross-engine anchor the MinHash and SimHash families have. */
  val embDedupPortableSparkSql: String =
    s"""${portSigSparkCtes(bandBits = 4)},
       |k AS (
       |  SELECT vec_id, b, bk FROM (
       |    SELECT vec_id, b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bs
       |    FROM bd) q
       |  WHERE bs BETWEEN 2 AND ${graft.dedup.Dedup.MaxBucket}),
       |p AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
       |  FROM k a JOIN k c ON a.b = c.b AND a.bk = c.bk
       |                   AND a.vec_id < c.vec_id),
       |j AS (
       |  SELECT vec_a, vec_b, vec_cosine(ea.embedding, eb.embedding) AS cos
       |  FROM p JOIN e ea ON ea.vec_id = vec_a
       |         JOIN e eb ON eb.vec_id = vec_b)
       |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos FROM j
       |WHERE cos >= 0.40 ORDER BY vec_a, vec_b""".stripMargin

  val embDedupPortableDuckSql: String =
    s"""${portSigDuckCtes(bandBits = 4)},
       |k AS (
       |  SELECT vec_id, b, bk FROM (
       |    SELECT vec_id, b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bs
       |    FROM bd) q
       |  WHERE bs BETWEEN 2 AND ${graft.dedup.Dedup.MaxBucket}),
       |p AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
       |  FROM k a JOIN k c ON a.b = c.b AND a.bk = c.bk
       |                   AND a.vec_id < c.vec_id),
       |j AS (
       |  SELECT vec_a, vec_b,
       |    list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(ea.embedding,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(eb.embedding,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
       |  FROM p JOIN e ea ON ea.vec_id = vec_a
       |         JOIN e eb ON eb.vec_id = vec_b)
       |SELECT vec_a, vec_b, ROUND(cos, 4) AS cos FROM j
       |WHERE cos >= 0.40 ORDER BY vec_a, vec_b""".stripMargin

  /** Portable twin of `dedup_semantic`: the production path blocks by
    * trained IVF k-means cells (not mirrorable — the quantizer is
    * fitted), so this twin swaps in a deterministic 8-bit portable-LSH
    * cell as the semantic block and hash-checks everything DOWNSTREAM
    * of cell assignment cross-engine: the cell-size pair guard, the
    * min-id dominance rule (a vector is dropped iff a lower-id member
    * of its cell clears the cosine threshold, `dup_cos` taken via
    * `min_by` against the DOMINATING id, not the max over dominators —
    * exactly the convention `semanticDedupFrom` implements), and the
    * keep/dup_of/dup_cos output shape. */
  val semanticPortableSparkSql: String =
    s"""${portSigSparkCtes()},
       |cells AS (SELECT vec_id, bk AS cell FROM bd WHERE b = 0),
       |k AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, COUNT(*) OVER (PARTITION BY cell) AS cs
       |    FROM cells) q
       |  WHERE cs BETWEEN 2 AND ${graft.dedup.Dedup.MaxBucket}),
       |p AS (
       |  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       |         vec_cosine(ea.embedding, eb.embedding) AS cos
       |  FROM k a JOIN k c ON a.cell = c.cell AND a.vec_id < c.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = c.vec_id),
       |d AS (
       |  SELECT vec_b AS vec_id, MIN(vec_a) AS dup_of,
       |         MIN_BY(cos, vec_a) AS dup_cos
       |  FROM p WHERE cos >= 0.40 GROUP BY vec_b)
       |SELECT c.vec_id, c.cell,
       |       CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |         AS keep,
       |       d.dup_of, ROUND(d.dup_cos, 4) AS dup_cos
       |FROM cells c LEFT JOIN d ON d.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin

  val semanticPortableDuckSql: String =
    s"""${portSigDuckCtes()},
       |cells AS (SELECT vec_id, bk AS cell FROM bd WHERE b = 0),
       |k AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, COUNT(*) OVER (PARTITION BY cell) AS cs
       |    FROM cells) q
       |  WHERE cs BETWEEN 2 AND ${graft.dedup.Dedup.MaxBucket}),
       |p AS (
       |  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       |    list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(ea.embedding,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(eb.embedding,
       |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
       |  FROM k a JOIN k c ON a.cell = c.cell AND a.vec_id < c.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = c.vec_id),
       |d AS (
       |  SELECT vec_b AS vec_id, MIN(vec_a) AS dup_of,
       |         MIN_BY(cos, vec_a) AS dup_cos
       |  FROM p WHERE cos >= 0.40 GROUP BY vec_b)
       |SELECT c.vec_id, c.cell,
       |       CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |         AS keep,
       |       d.dup_of, ROUND(d.dup_cos, 4) AS dup_cos
       |FROM cells c LEFT JOIN d ON d.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin

  /** Per-cluster sample quota of [[clusterSample]]. */
  val ClusterQuota = 8

  private def clusterSampPath(dir: String): String =
    graft.TmpLanding.path("graft_cluster_samp", dir)
  /** Cluster-balanced (diversity) sampling — the SemDeDup/D4-style
    * curation move: cap every embedding cluster's contribution to the
    * training mix at [[ClusterQuota]] documents, so over-represented
    * semantic neighborhoods (boilerplate farms, template families)
    * cannot dominate the sample. Clusters are the IVF coarse cells
    * (shared k-means build, bounded training sample); WITHIN each cell
    * the kept rows are the bottom-[[ClusterQuota]] by the portable
    * md5(vec_id) rank — selected with the mergeable bounded-heap
    * Aggregator from `load.Sampling` (map-side partials, exchange
    * carries O(cells·quota), no per-cell window sort — the shape that
    * survives a mega-cell at 100 TB).
    *
    * Portable twin convention: the cell assignment lands as parquet
    * and DuckDB re-derives the per-cell quota with its own window
    * rank, so quota application is hash-checked end to end (clustering
    * itself is checked by the ivf portable twins). */
  def clusterSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = clusterSampPath(dir)
    val (_, assigned) = ivfIndex(spark, dir)
    assigned
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
      .write.mode("overwrite").parquet(s"$path/cells")
    val cells = spark.read.parquet(s"$path/cells")
    val agg = new graft.load.Sampling.BottomKLocs(ClusterQuota).toColumn
    val kept = cells
      // native codegen'd md5 (the Corpus.scala portable-rank spelling)
      .select(col("cell"), md5(col("vec_id").cast("string").cast("binary"))
        .as("key"), col("vec_id"))
      .as[(Int, String, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, key, id) => graft.load.Sampling.LocIn(key, id) }
      .agg(agg)
      .flatMap { case (cell, out) =>
        out.ps.indices.map(i => (cell, (i + 1).toLong, out.ps(i)))
      }
      .toDF("cell", "rk", "vec_id")
    val counts = cells.groupBy("cell").agg(count(lit(1)).as("n_cell"))
    kept.join(broadcast(counts), "cell")
      .select(col("cell"), col("rk"), col("vec_id"), col("n_cell"))
      .orderBy("cell", "rk")
  }

  private def clusterSampleDuckSql: String =
    s"""WITH r AS (
       |  SELECT cell, vec_id,
       |         ROW_NUMBER() OVER (PARTITION BY cell
       |             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk,
       |         COUNT(*) OVER (PARTITION BY cell) AS n_cell
       |  FROM read_parquet('${clusterSampPath(RunContext.oracleDir)}/cells/*.parquet'))
       |SELECT cell, rk, vec_id, n_cell FROM r
       |WHERE rk <= $ClusterQuota
       |ORDER BY cell, rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_cluster_sample" -> ((s, d) => clusterSample(s, d)),
    "sim_ivf_topk" -> ((s, d) => ivfTopK(s, d)),
    "sim_ivf_topk_portable" -> ((s, d) => ivfTopKPortable(s, d)),
    "sim_ivfpq_topk_portable" -> ((s, d) => ivfPqTopKPortable(s, d)),
    "sim_bruteforce_topk" -> ((s, d) => {
      VecFunctions.register(s); Tables.sql(bruteforceSparkSql)(s, d)
    }),
    "embed_triplet_mining" -> ((s, d) => {
      VecFunctions.register(s); Tables.sql(tripletSparkSql)(s, d)
    }),
    "sim_hybrid_rrf" -> ((s, d) => {
      VecFunctions.register(s); Tables.sql(hybridRrfSparkSql)(s, d)
    }),
    "sim_mmr" -> ((s, d) => mmrSelect(s, d)),
    "sim_lsh_topk" -> ((s, d) => lshTopK(s, d)),
    "sim_lsh_topk_portable" -> ((s, d) => lshTopKPortable(s, d)),
    "dedup_embedding_portable" -> ((s, d) => embDedupPortable(s, d)),
    "dedup_semantic_portable" -> ((s, d) => semanticPortable(s, d)),
    "sim_ivfpq_topk" -> ((s, d) => ivfPqTopK(s, d)),
    "sim_ann_recall" -> ((s, d) => annRecall(s, d)),
    "sim_index_persist" -> ((s, d) => indexPersist(s, d)),
    "dedup_embedding_cosine" -> ((s, d) => nearDupPairs(s, d)),
    "dedup_semantic" -> ((s, d) => semanticDedup(s, d)),
    "embed_quantize" -> Tables.sql(quantizeSparkSql),
    "embed_kmeans" -> ((s, d) => Kmeans.kmeans(s, d)),
    "sim_knn_graph" -> ((s, d) =>
      Kmeans.knnGraphCached(s, d).orderBy("vec_id", "rnk")),
    "graph_pagerank_ann" -> ((s, d) => pageRankAnn(s, d)),
    "graph_pagerank" -> ((s, d) => PageRank.pageRank(s, d)),
    "graph_components" -> ((s, d) => Graph.connectedComponents(s, d)),
    "graph_components_ann" -> ((s, d) => Graph.connectedComponentsAnn(s, d)),
    "graph_label_prop" -> ((s, d) => Graph.labelPropagation(s, d)),
    "graph_label_prop_ann" -> ((s, d) => Graph.labelPropagationAnn(s, d)),
    "graph_triangles" -> ((s, d) => Graph.triangles(s, d)),
    "graph_triangles_ann" -> ((s, d) => Graph.trianglesAnn(s, d)),
    "embed_pca" -> ((s, d) => pcaProject(s, d)),
    "embed_procrustes" -> ((s, d) => procrustesAlign(s, d)),
    "embed_whitening" -> ((s, d) => whitenProject(s, d)),
    "embed_label_centroids" -> Tables.sql(centroidsSparkSql),
    "embed_outliers" -> Tables.sql(outliersSparkSql)
  )

  // a def, not a val: the ivf oracle strings embed the landed-artifact
  // paths of the MOST RECENT run (set by the queries themselves), and
  // Verify dumps oracle_sql.json after the queries execute
  def oracleSql: Map[String, String] = Map(
    "corpus_cluster_sample" -> clusterSampleDuckSql,
    "sim_ivf_topk_portable" -> ivfPortableDuckSql,
    "sim_ivfpq_topk_portable" -> pqPortableDuckSql,
    "sim_index_persist" -> indexPersistDuckSql,
    "sim_bruteforce_topk" -> bruteforceDuckSql,
    "embed_triplet_mining" -> tripletDuckSql,
    "sim_hybrid_rrf" -> hybridRrfDuckSql,
    "sim_mmr" -> mmrDuckSql,
    "sim_lsh_topk_portable" -> lshPortableDuckSql,
    "dedup_embedding_portable" -> embDedupPortableDuckSql,
    "dedup_semantic_portable" -> semanticPortableDuckSql,
    "embed_quantize" -> quantizeDuckSql,
    "embed_kmeans" -> Kmeans.kmeansDuckSql,
    "sim_knn_graph" -> Kmeans.knnGraphDuckSql,
    "graph_pagerank" -> PageRank.pageRankDuckSql,
    "graph_pagerank_ann" -> pageRankAnnDuckSql,
    "graph_components" -> Graph.componentsDuckSql,
    "graph_components_ann" -> Graph.componentsAnnDuckSql,
    "graph_label_prop" -> Graph.labelPropDuckSql,
    "graph_label_prop_ann" -> Graph.labelPropAnnDuckSql,
    "graph_triangles" -> Graph.trianglesDuckSql,
    "graph_triangles_ann" -> Graph.trianglesAnnDuckSql,
    "embed_pca" -> pcaDuckSql,
    "embed_procrustes" -> procrustesDuckSql,
    "embed_whitening" -> whitenDuckSql,
    "embed_label_centroids" -> centroidsDuckSql,
    "embed_outliers" -> outliersDuckSql
  )
}
