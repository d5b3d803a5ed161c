package graft.dedup

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators (north-star extensions,
  * SURVEY §7.1 step 8): exact, MinHash+LSH, SimHash, and blocked n-gram
  * Jaccard. All are shuffle-minimal by construction:
  *
  *  - shingling + signatures are computed **map-side** (no explode-shuffle:
  *    each doc's shingle set and signature are built inside one projection);
  *  - the only shuffles are the LSH-bucket groupBy (tiny rows: band hash +
  *    doc id) and the verification self-joins on doc_id;
  *  - candidate buckets are capped (`MaxBucket`) so a degenerate band can't
  *    go quadratic at 100 TB (standard LSH-dedup practice).
  */
object Dedup {

  // ---- shared shingling ----------------------------------------------------

  /** Word 3-gram shingles, hashed to 64-bit via xxhash64, deduped.
    * Tokenization is materialized as a column FIRST so the shingle lambda
    * references a bound array instead of re-running split() per element
    * (O(n) instead of O(n^2) per doc — 2x+ on the bench corpus).
    * Pure column expressions → whole-stage codegen, map-side only. */
  private def docsWithShingles(spark: SparkSession, dir: String): DataFrame = {
    // native one-pass shingle+hash+dedup Expression: the SQL spelling
    // (array_distinct over a transform lambda) is CodegenFallback and
    // dominates the signature stage; `shingles3` stays in codegen
    graft.functions.VecFunctions.register(spark)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        call_function("shingles3",
          split(lower(trim(col("text"))), "\\s+")).as("hset"))
  }

  // ---- exact dedup ---------------------------------------------------------

  /** Exact dedup: group on md5(text) (fixed-width shuffle key instead of the
    * full text — at 100 TB the shuffle carries 32-byte digests, not bodies).
    * DuckDB-oracle checked. */
  val exactSql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ---- MinHash + LSH -------------------------------------------------------

  val NumPerm: Int = graft.functions.HashKernels.NumPerm
  val Bands: Int = graft.functions.HashKernels.Bands // x 4 rows/band: ~P(detect) > 0.99 at J=0.8
  val JaccardThreshold = 0.7
  val MaxBucket = 64

  /** Candidate pairs from any shared LSH band, then exact-Jaccard verified
    * against the shingle sets. Signature+banding is one native codegen'd
    * pass (`MinHashBands` Expression — no per-shingle boxing).
    * Output: (doc_a, doc_b, jaccard). */
  def minhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.register(spark)
    val docs = docsWithShingles(spark, dir).cache()
    val sigs = docs.select(col("doc_id"),
      call_function("minhash_bands", col("hset")).as("bands"))
    val buckets = sigs
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
      .groupBy("band", "bh").agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")).between(2, MaxBucket))
    val pairs = buckets
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .where(col("doc_a") < col("doc_b"))
      .distinct()
    verifyJaccard(pairs, docs, JaccardThreshold)
  }

  /** Exact Jaccard over hashed-shingle sets for candidate pairs. */
  private def verifyJaccard(pairs: DataFrame, docs: DataFrame,
                            threshold: Double): DataFrame = {
    val a = docs.select(col("doc_id").as("doc_a"), col("hset").as("ha"))
    val b = docs.select(col("doc_id").as("doc_b"), col("hset").as("hb"))
    pairs.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ha"), col("hb"))).cast("double") /
         size(array_union(col("ha"), col("hb")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- portable MinHash signatures (cross-engine oracle) -------------------

  /** The MinHash sketch pipeline, oracle-checked END TO END: word-3-gram
    * shingling → mod-p polynomial gram hash → 16 affine permutations →
    * per-permutation min, spelled so DuckDB computes the identical
    * BIGINT signature (the scale-path `minhash_bands` uses 2^64-ring
    * arithmetic DuckDB rejects as overflow, hence rows-only there).
    * Signatures emit as 16 scalar columns — the driver's canonical
    * compare stringifies scalars predictably across engines. */
  val minhashSigSparkSql: String = {
    val cols = (0 until graft.functions.HashKernels.PortPerm)
      .map(p => f"  sig[$p] AS m$p%02d").mkString(",\n")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         minhash_portable(split(lower(trim(text)), '\\\\s+')) AS sig
       |  FROM documents)
       |SELECT doc_id,
       |$cols
       |FROM t ORDER BY doc_id""".stripMargin
  }

  val minhashSigDuckSql: String = {
    import graft.functions.HashKernels.{portA, portB, PortP, PortPerm}
    val cols = (0 until PortPerm).map { p =>
      f"  list_min(list_transform(hs, x -> (${portA(p)}*x + ${portB(p)}) %% $PortP)) AS m$p%02d"
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, CASE WHEN len(tok) >= 3 THEN
       |      [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
       |       for i in generate_series(1, len(tok) - 2)]
       |    ELSE [array_to_string(tok, ' ')] END AS sh
       |  FROM t),
       |h AS (
       |  SELECT doc_id, list_transform(sh, g ->
       |    CASE WHEN len(g) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(range(1, len(g)+1),
       |                                 i -> CAST(unicode(g[i]) AS BIGINT)),
       |                  (a, b) -> (a*31 + b) % $PortP) END) AS hs
       |  FROM s)
       |SELECT doc_id,
       |$cols
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // ---- SimHash -------------------------------------------------------------

  val HammingThreshold = 3
  private val SimChunks = 4 // 4 x 15-bit chunks: pigeonhole for dist <= 3
  private val SimChunkBits = graft.functions.HashKernels.PortSimBits / SimChunks
  private val SimChunkMask = (1 << SimChunkBits) - 1

  /** 60-bit portable SimHash signature per doc (exposed for tests) —
    * native codegen'd pass (`SimHashPortable` Expression), bit-identical
    * to the DuckDB mod-p spelling so the ENTIRE simhash pipeline
    * (signature, chunk candidates, bucket cap, hamming verify) is
    * hash-checked cross-engine. The 2^64-ring `simhash64` kernel remains
    * for workloads that want the full 64 bits and no mod-p constraint. */
  def signatures(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.register(spark)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), call_function("simhash_portable",
        split(lower(trim(col("text"))), "\\s+")).as("sig"))
  }

  /** SimHash near-dup pairs: 60-bit portable signature, candidates via
    * any equal 15-bit chunk (pigeonhole guarantees recall for hamming
    * <= 3), verified by popcount(xor). Output: (doc_a, doc_b, hamming). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(spark, dir).cache()
    val chunks = sigs.select(col("doc_id"), col("sig"),
        explode(expr(
          s"transform(sequence(0, ${SimChunks - 1}), " +
            s"c -> struct(c AS chunk, shiftright(sig, c * $SimChunkBits) " +
            s"& $SimChunkMask AS v))")).as("ck"))
      .select(col("doc_id"), col("sig"), col("ck.chunk"), col("ck.v"))
    // bucket-capped candidate generation (same MaxBucket guard as the
    // minhash path): a degenerate chunk value can't go quadratic
    val buckets = chunks
      .groupBy("chunk", "v")
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .where(size(col("members")).between(2, MaxBucket))
    val pairs = buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(expr("a.sig ^ b.sig")).as("hamming"))
      .distinct()
    pairs.where(col("hamming") <= HammingThreshold)
      .orderBy("doc_a", "doc_b")
  }

  // ---- portable SimHash oracles (cross-engine) -----------------------------

  /** DuckDB CTE prefix shared by the simhash oracles: word-3-gram
    * shingles → mod-p gram hashes (identical spelling to
    * [[minhashSigDuckSql]]) → DISTINCT gram set (SimHash counts each
    * shingle once). */
  private val duckGramCtes: String = {
    import graft.functions.HashKernels.PortP
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, CASE WHEN len(tok) >= 3 THEN
       |      [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
       |       for i in generate_series(1, len(tok) - 2)]
       |    ELSE [array_to_string(tok, ' ')] END AS sh
       |  FROM t),
       |h AS (
       |  SELECT doc_id, list_transform(sh, g ->
       |    CASE WHEN len(g) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(range(1, len(g)+1),
       |                                 i -> CAST(unicode(g[i]) AS BIGINT)),
       |                  (a, b) -> (a*31 + b) %% $PortP) END) AS hs
       |  FROM s),
       |hd AS (SELECT doc_id, list_distinct(hs) AS hs FROM h)""".stripMargin
      .replace("%%", "%")
  }

  /** The 60-bit signature as one BIGINT expression over `hd.hs`: bit b
    * (p = b/4, k = b%4) set iff the count of distinct grams whose affine
    * permutation p has bit k set exceeds half — the exact computation of
    * `HashKernels.simhashPortable`, spelled term by term. */
  private val duckSimhashSigExpr: String = {
    import graft.functions.HashKernels.{portA, portB, PortP, PortSimBits}
    (0 until PortSimBits).map { b =>
      val p = b / 4; val k = b % 4
      s"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN " +
        s"((((${portA(p)}*x + ${portB(p)}) % $PortP) >> $k) & 1) = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n    + ")
  }

  /** Per-doc signature anchor (the `dedup_minhash_sig` mirror). */
  val simhashSigSparkSql: String =
    """SELECT doc_id,
      |       simhash_portable(split(lower(trim(text)), '\\s+')) AS sig
      |FROM documents ORDER BY doc_id""".stripMargin

  val simhashSigDuckSql: String =
    s"""$duckGramCtes
       |SELECT doc_id, CAST($duckSimhashSigExpr AS BIGINT) AS sig
       |FROM hd ORDER BY doc_id""".stripMargin

  /** Full mirror of [[simhash]] — signature, 15-bit chunk candidates,
    * the MaxBucket guard, and the hamming verification — so the pair
    * OUTPUT of the simhash dedup operator is hash-checked, not only its
    * signatures. */
  val simhashDuckSql: String =
    s"""$duckGramCtes,
       |sigs AS (
       |  SELECT doc_id, CAST($duckSimhashSigExpr AS BIGINT) AS sig
       |  FROM hd),
       |ch AS (
       |  SELECT doc_id, sig, c, (sig >> (c * $SimChunkBits)) & $SimChunkMask AS v
       |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cs),
       |k AS (
       |  SELECT doc_id, sig, c, v FROM (
       |    SELECT ch.*, COUNT(*) OVER (PARTITION BY c, v) AS bs FROM ch) q
       |  WHERE bs BETWEEN 2 AND $MaxBucket),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         bit_count(xor(a.sig, b.sig)) AS hamming
       |  FROM k a JOIN k b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM p
       |WHERE hamming <= $HammingThreshold ORDER BY doc_a, doc_b""".stripMargin

  // ---- portable MinHash-LSH (full pipeline, cross-engine) ------------------

  /** The ENTIRE MinHash-LSH dedup pipeline hash-checked end to end
    * (the missing piece between `dedup_minhash_sig`, which anchors only
    * the signatures, and `dedup_minhash_lsh`, whose 2^64-ring hashing
    * DuckDB cannot express): portable mod-p signatures band into
    * 4 bands × 4 minima, candidates share a band key, buckets carry the
    * same `MaxBucket` cap as every other generator, and survivors
    * verify by exact Jaccard. The Spark side verifies over xxhash64
    * shingle sets while DuckDB verifies over the mod-p sets — Jaccard
    * is hash-invariant (collisions ~|sh|²/2^64 resp. |sh|²/P — nil),
    * and that invariance is itself part of what the green row checks.
    * Band keys ride as '_'-joined strings: exact, overflow-free, and
    * spelled identically in both engines. */
  /** ONE template builds both LSH-portable spellings (all-pairs dedup
    * and train×eval decontamination), so the banding width, bucket cap,
    * signature arithmetic, and Jaccard threshold cannot drift between
    * the two operators. `evalSplit` adds the held-out flag and swaps
    * the pair predicate from `doc_id <` ordering to train×eval. */
  private def lshPortableSpark(evalSplit: Boolean): String = {
    val evalCol = if (evalSplit) " doc_id % 11 = 0 AS is_eval," else ""
    val carry = if (evalSplit) "is_eval, " else ""
    val pair =
      if (evalSplit)
        """  SELECT DISTINCT t.doc_id AS out_a, e.doc_id AS out_b
          |  FROM k t JOIN k e ON t.b = e.b AND t.bk = e.bk
          |  WHERE NOT t.is_eval AND e.is_eval""".stripMargin
      else
        """  SELECT DISTINCT a.doc_id AS out_a, b2.doc_id AS out_b
          |  FROM k a JOIN k b2 ON a.b = b2.b AND a.bk = b2.bk
          |                    AND a.doc_id < b2.doc_id""".stripMargin
    val (oa, ob) = if (evalSplit) ("train_id", "eval_id") else ("doc_a", "doc_b")
    s"""WITH s AS (
       |  SELECT doc_id,$evalCol
       |         minhash_portable(split(lower(trim(text)), '\\\\s+')) AS sig,
       |         shingles3(split(lower(trim(text)), '\\\\s+')) AS sh
       |  FROM documents),
       |bd AS (
       |  SELECT doc_id, ${carry}b,
       |         concat_ws('_', sig[b*4], sig[b*4+1], sig[b*4+2], sig[b*4+3]) AS bk
       |  FROM s LATERAL VIEW explode(sequence(0, 3)) t AS b),
       |k AS (
       |  SELECT doc_id, ${carry}b, bk FROM (
       |    SELECT doc_id, ${carry}b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bs
       |    FROM bd) q
       |  WHERE bs BETWEEN 2 AND $MaxBucket),
       |p AS (
       |$pair),
       |j AS (
       |  SELECT out_a, out_b,
       |         CAST(size(array_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |           / size(array_union(sa.sh, sb.sh)) AS jac
       |  FROM p JOIN s sa ON sa.doc_id = out_a
       |         JOIN s sb ON sb.doc_id = out_b)
       |SELECT out_a AS $oa, out_b AS $ob, ROUND(jac, 4) AS jaccard FROM j
       |WHERE jac >= 0.7 ORDER BY $oa, $ob""".stripMargin
  }

  val minhashLshPortableSparkSql: String = lshPortableSpark(evalSplit = false)

  /** DuckDB twin of [[lshPortableSpark]] — same single-template rule. */
  private def lshPortableDuck(evalSplit: Boolean): String = {
    import graft.functions.HashKernels.{portA, portB, PortP, PortPerm}
    val sigList = (0 until PortPerm).map { p =>
      s"list_min(list_transform(hs, x -> (${portA(p)}*x + ${portB(p)}) % $PortP))"
    }.mkString("[", ",\n      ", "]")
    val evalCol = if (evalSplit) " doc_id % 11 = 0 AS is_eval," else ""
    val carry = if (evalSplit) "is_eval, " else ""
    val pair =
      if (evalSplit)
        """  SELECT DISTINCT t.doc_id AS out_a, e.doc_id AS out_b
          |  FROM k t JOIN k e ON t.b = e.b AND t.bk = e.bk
          |  WHERE NOT t.is_eval AND e.is_eval""".stripMargin
      else
        """  SELECT DISTINCT a.doc_id AS out_a, b2.doc_id AS out_b
          |  FROM k a JOIN k b2 ON a.b = b2.b AND a.bk = b2.bk
          |                    AND a.doc_id < b2.doc_id""".stripMargin
    val (oa, ob) = if (evalSplit) ("train_id", "eval_id") else ("doc_a", "doc_b")
    s"""$duckGramCtes,
       |sg AS (
       |  SELECT doc_id,$evalCol $sigList AS sig, hs AS sh
       |  FROM hd),
       |bd AS (
       |  SELECT doc_id, ${carry}b,
       |         concat_ws('_', sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]) AS bk
       |  FROM sg CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bs),
       |k AS (
       |  SELECT doc_id, ${carry}b, bk FROM (
       |    SELECT doc_id, ${carry}b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bs
       |    FROM bd) q
       |  WHERE bs BETWEEN 2 AND $MaxBucket),
       |p AS (
       |$pair),
       |j AS (
       |  SELECT out_a, out_b,
       |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |           / len(list_distinct(sa.sh || sb.sh)) AS jac
       |  FROM p JOIN sg sa ON sa.doc_id = out_a
       |         JOIN sg sb ON sb.doc_id = out_b)
       |SELECT out_a AS $oa, out_b AS $ob, ROUND(jac, 4) AS jaccard FROM j
       |WHERE jac >= 0.7 ORDER BY $oa, $ob""".stripMargin
  }

  val minhashLshPortableDuckSql: String = lshPortableDuck(evalSplit = false)

  // ---- near-duplicate decontamination (portable, cross-engine) ------------

  /** NEAR-duplicate decontamination — the modern successor to exact
    * n-gram decontamination (`text_decontaminate`): a training document
    * that is a near-copy of an evaluation document leaks the benchmark
    * even when no 13-gram matches verbatim (paraphrase, whitespace
    * mangling, truncation). The held-out set here is the deterministic
    * `doc_id % 11 = 0` slice (the driver tables carry no separate
    * benchmark corpus); candidates are train×eval pairs sharing a
    * MinHash band key (same portable mod-p signatures, 4×4 banding and
    * `MaxBucket` cap as `dedup_minhash_lsh_portable`), and survivors
    * verify by exact trigram-shingle Jaccard ≥ 0.7. Scale shape:
    * banding makes the train side stream — no train×eval cross join
    * ever materializes, and the eval side is benchmark-sized. Both
    * engines run the whole pipeline from raw text. */
  val decontaminateNearSparkSql: String = lshPortableSpark(evalSplit = true)

  val decontaminateNearDuckSql: String = lshPortableDuck(evalSplit = true)

  // ---- blocked n-gram Jaccard (oracle-checkable) --------------------------

  /** Prefix-blocked exact n-gram Jaccard: candidates share a 40-char prefix
    * block (cheap equi-join blocking), Jaccard over distinct word-3-gram
    * shingles. The Spark side hashes each shingle to 64 bits (xxhash64)
    * before the join: Jaccard over the hashed sets equals Jaccard over the
    * string sets (collisions are ~|sh|^2/2^64 — nil), and the join then
    * intersects fixed-width longs instead of variable-length strings —
    * smaller shuffle rows AND cheaper set ops. The DuckDB oracle keeps the
    * string spelling, so the hash-invariance is itself oracle-checked.
    *
    * Block membership is CAPPED at `MaxBucket` (same guard as the LSH
    * paths at `minhash`/`simhash`): a `ROW_NUMBER() OVER (PARTITION BY
    * blk ORDER BY doc_id)` keeps the first `MaxBucket` members of each
    * block, so a degenerate shared prefix (license headers, ToS
    * boilerplate, scraped templates — thousands of docs sharing 40
    * chars) produces at most MaxBucket^2 candidate pairs instead of B^2.
    * The sample is deterministic (doc_id order) and spelled identically
    * in the DuckDB oracles, so the capped semantics are themselves
    * oracle-checked; docs a real pipeline would catch via the MinHash-LSH
    * path anyway (shared-prefix near-dups band together). The window is
    * a per-block LINEAR pass (one shuffle on blk, degenerate block =
    * one straggler partition, not a quadratic join). */
  val ngramJaccardSparkSql: String =
    """WITH t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk,
      |         split(lower(trim(text)), '\\s+') AS tok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, blk, tok,
      |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |  FROM t),
      |s AS (
      |  SELECT doc_id, blk, shingles3(tok) AS sh
      |  FROM r WHERE rn <= @CAP@),
      |j AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE)
      |           / size(array_union(a.sh, b.sh)) AS jac
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard FROM j
      |WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  val ngramJaccardDuckSql: String =
    """WITH t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk,
      |         string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, blk, tok,
      |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |  FROM t),
      |s AS (
      |  SELECT doc_id, blk,
      |         list_distinct(CASE WHEN len(tok) >= 3 THEN
      |           [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
      |            for i in generate_series(1, len(tok) - 2)]
      |           ELSE [array_to_string(tok, ' ')] END) AS sh
      |  FROM r WHERE rn <= @CAP@),
      |j AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |           / len(list_distinct(a.sh || b.sh)) AS jac
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard FROM j
      |WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  // ---- asymmetric containment (partial-duplicate detection) ---------------

  /** Containment score |sh(A) ∩ sh(B)| / |sh(A)| — the asymmetric
    * cousin of Jaccard that catches PARTIAL duplication (doc A quoted
    * or embedded inside a larger doc B scores high even when Jaccard
    * is diluted by B's extra content; the dedup literature's standard
    * fix for the quote/boilerplate-inclusion case). Directed: (a, b)
    * and (b, a) score independently. Same prefix blocking + hashed
    * shingles (hash-invariance oracle-checked by the string spelling)
    * as the Jaccard path, including the same `MaxBucket` block-membership
    * cap (see `ngramJaccardSparkSql`). */
  val containmentSparkSql: String =
    """WITH t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk,
      |         split(lower(trim(text)), '\\s+') AS tok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, blk, tok,
      |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |  FROM t),
      |s AS (
      |  SELECT doc_id, blk, shingles3(tok) AS sh
      |  FROM r WHERE rn <= @CAP@),
      |j AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE)
      |           / size(a.sh) AS cont
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id <> b.doc_id)
      |SELECT doc_a, doc_b, ROUND(cont, 4) AS containment FROM j
      |WHERE cont >= 0.6 ORDER BY doc_a, doc_b""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  val containmentDuckSql: String =
    """WITH t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk,
      |         string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, blk, tok,
      |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |  FROM t),
      |s AS (
      |  SELECT doc_id, blk,
      |         list_distinct(CASE WHEN len(tok) >= 3 THEN
      |           [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
      |            for i in generate_series(1, len(tok) - 2)]
      |           ELSE [array_to_string(tok, ' ')] END) AS sh
      |  FROM r WHERE rn <= @CAP@),
      |j AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |           / len(a.sh) AS cont
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id <> b.doc_id)
      |SELECT doc_a, doc_b, ROUND(cont, 4) AS containment FROM j
      |WHERE cont >= 0.6 ORDER BY doc_a, doc_b""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  // ---- cluster assignment (connected components over near-dup pairs) ------

  /** Duplicate-cluster assignment: connected components of the near-dup
    * pair graph, labeled by the minimum doc_id — the keep-list a real
    * dedup pipeline emits (keep canonical, drop the rest). Iterative
    * min-label propagation over the edge list; near-dup components are
    * tiny (bounded by the blocking), so this converges in a handful of
    * small self-joins — no full-corpus shuffle ever happens.
    * Oracle: DuckDB recursive-CTE reachability over the same pair set. */
  /** Built cluster assignment, cached per (session, dir): the cluster
    * map is a build-once artifact of the dedup pipeline — `clusters` and
    * `keepList` both derive from it, and neither should pay the pair
    * graph + propagation twice. The table is already materialized
    * (localCheckpoint) when it lands here; eviction frees those blocks.
    * 4 = scale dirs visited per application. */
  private val clusterCache = new graft.BoundedCache[DataFrame](
    max = 4, onEvict = graft.BoundedCache.freeCheckpoint)

  private def clusterTable(spark: SparkSession, dir: String): DataFrame =
    clusterCache.get(graft.BoundedCache.key(spark, dir)) {
      graft.functions.VecFunctions.register(spark)
      val pairs = Tables.sql(ngramJaccardSparkSql)(spark, dir)
        .select(col("doc_a"), col("doc_b")).cache()
      val out = propagateLabels(pairs)
      pairs.unpersist(false)
      out
    }

  def clusters(spark: SparkSession, dir: String): DataFrame =
    clusterTable(spark, dir).orderBy("doc_id")

  /** Iterative min-label propagation over an undirected `(doc_a, doc_b)`
    * edge list -> `(doc_id, canonical)`. Each generation is
    * localCheckpoint()ed: the logical plan stays a flat LogicalRDD scan
    * every iteration (constant depth — no lineage growth, no recompute
    * cascade at 100 TB), and the predecessor's blocks are unpersisted as
    * soon as the next generation is materialized. Convergence is folded
    * into the propagation job as a `chg` flag, so detecting it is a local
    * scan of checkpointed blocks, not a re-join. */
  def propagateLabels(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").cache()
    // Size the iteration shuffles to the EDGE volume, not the session
    // batch default (same principle as the streaming state-store sizing):
    // near-dup pair sets are tiny relative to the corpus, and every
    // iteration pays per-partition task/checkpoint overhead. A 100 TB run
    // with billions of edges raises this toward the session default.
    val nEdges = edges.count()
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val iterParts = math.max(8L, math.min(prevShuffle.toLong,
      nEdges / 50000 + 1)).toString
    spark.conf.set("spark.sql.shuffle.partitions", iterParts)
    try {
    var labels = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val prop = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("nlabel"))
      val next = labels.join(prop, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          (coalesce(col("nlabel"), col("label")) < col("label")).as("chg"))
        .localCheckpoint() // eager: one materializing job per iteration
      changed = next.where(col("chg")).count() // local block scan, no re-join
      graft.BoundedCache.freeCheckpoint(labels)
      labels = next.drop("chg")
      iter += 1
    }
    edges.unpersist(false)
    labels.select(col("doc_id"), col("label").as("canonical"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** Survivorship election — the policy layer above cluster assignment:
    * within each near-dup cluster the member with the highest quality
    * survives (here: longest text, ties to the smallest doc_id), not
    * the arbitrary min-id canonical — real curation keeps the BEST
    * copy, not the first-seen one, and logs an audit table of every
    * clustered doc, its cluster, the elected survivor, and whether it
    * survives. Scale shape: the cluster map is pair-graph-sized and
    * broadcast, so the doc-length scan never shuffles; the election
    * window shuffles only cluster members (a sliver of the corpus). */
  def survivorship(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val members = clusterTable(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical").orderBy(col("len").desc, col("doc_id").asc)
    docs.join(broadcast(members), "doc_id")
      .withColumn("survivor_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical").as("cluster"), col("len"),
        col("survivor_id"),
        (col("doc_id") === col("survivor_id")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val survivorshipDuckSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk,
      |         string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, blk, tok,
      |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |  FROM t),
      |s AS (
      |  SELECT doc_id, blk,
      |         list_distinct(CASE WHEN len(tok) >= 3 THEN
      |           [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
      |            for i in generate_series(1, len(tok) - 2)]
      |           ELSE [array_to_string(tok, ' ')] END) AS sh
      |  FROM r WHERE rn <= @CAP@),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(a.sh || b.sh)) >= 0.5),
      |e AS (SELECT doc_a AS u, doc_b AS v FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |n AS (SELECT DISTINCT u FROM e),
      |reach(u, v) AS (
      |  SELECT u, u FROM n
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
      |c AS (SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u),
      |l AS (
      |  SELECT c.doc_id, c.cluster, CAST(length(d.text) AS BIGINT) AS len
      |  FROM c JOIN documents d USING (doc_id)),
      |w AS (
      |  SELECT doc_id, cluster, len,
      |         FIRST_VALUE(doc_id) OVER (PARTITION BY cluster
      |           ORDER BY len DESC, doc_id) AS survivor_id
      |  FROM l)
      |SELECT doc_id, cluster, len, survivor_id,
      |       CAST(doc_id = survivor_id AS INT) AS keep
      |FROM w ORDER BY doc_id""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  /** The end product of the dedup pipeline: the deduplicated corpus.
    * Non-canonical cluster members drop (left-anti join against the
    * cluster table); everything else survives. Emits (doc_id, kept_len)
    * so the oracle checks the survivor SET and the payload wiring. */
  def keepList(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("kept_len"))
    val dropped = clusterTable(spark, dir)
      .where(col("doc_id") =!= col("canonical"))
      .select(col("doc_id"))
    // broadcast the (tiny) drop-list: near-dup sets are a sliver of the
    // corpus, so the survivors scan never shuffles
    docs.join(broadcast(dropped), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered keep-list — same survivors, different scale
    * envelope. `keepList` broadcasts the drop-list as an exact hash
    * relation, which caps out when the drop-list itself is billions of
    * ids (an 80 GB broadcast is not a broadcast). The bloom shape: a
    * 1%-fpp filter over the drop-ids (~1.2 GB per 10^9 keys) broadcast
    * to every task; definite-negatives — the overwhelming majority of a
    * mostly-unique corpus — pass with zero shuffle and zero join, and
    * only bloom-positives (true drops + ~1% false positives) pay the
    * exact anti-join that removes the FPs. No false negatives, so the
    * result is bit-identical to `keepList` (same DuckDB oracle). */
  def keepListBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("kept_len"))
    val dropped = clusterTable(spark, dir)
      .where(col("doc_id") =!= col("canonical"))
      .select(col("doc_id"))
    val nDrop = math.max(dropped.count(), 1L)
    val bloom = dropped.stat.bloomFilter("doc_id", nDrop, 0.01)
    val b = spark.sparkContext.broadcast(bloom)
    val mightDrop = udf((id: Long) => b.value.mightContainLong(id))
    val negatives = docs.where(!mightDrop(col("doc_id")))
    val positives = docs.where(mightDrop(col("doc_id")))
      .join(broadcast(dropped), Seq("doc_id"), "left_anti")
    negatives.unionByName(positives).orderBy("doc_id")
  }

  /** The full training-data gate as ONE declarative plan: quality filter
    * (Gopher/C4 rules) ∧ near-dup keep-list → per-language corpus
    * stats. Each stage is an already-oracle-checked operator; composing
    * them stays a single Catalyst plan — the cluster-table build is the
    * only iterative piece, and it is cached, so the composition adds two
    * broadcast-ish joins and one final aggregation. This is the query a
    * 100 TB pipeline actually ships: what survives, per language, and
    * how many tokens it carries. */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val kept = keepList(spark, dir).select(col("doc_id"))
    val quality = Tables.sql(
        graft.text.TextAnalysis.qualityFilterSparkSql)(spark, dir)
      .where(col("keep") === 1).select(col("doc_id"))
    Tables.load(spark, dir, "documents")
      .join(kept, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"))
      .orderBy("lang")
  }

  val keepListDuckSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk,
      |         string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, blk, tok,
      |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |  FROM t),
      |s AS (
      |  SELECT doc_id, blk,
      |         list_distinct(CASE WHEN len(tok) >= 3 THEN
      |           [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
      |            for i in generate_series(1, len(tok) - 2)]
      |           ELSE [array_to_string(tok, ' ')] END) AS sh
      |  FROM r WHERE rn <= @CAP@),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(a.sh || b.sh)) >= 0.5),
      |e AS (SELECT doc_a AS u, doc_b AS v FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |n AS (SELECT DISTINCT u FROM e),
      |reach(u, v) AS (
      |  SELECT u, u FROM n
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
      |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS kept_len
      |FROM documents d
      |WHERE d.doc_id NOT IN (
      |  SELECT u FROM reach GROUP BY u HAVING u != MIN(v))
      |ORDER BY d.doc_id""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  /** Oracle: the keep-list reachability CTE ∧ the quality-filter rules,
    * composed in one statement. SUMs cast back to BIGINT (DuckDB SUM
    * over BIGINT widens to HUGEINT, which would break the hash compare). */
  val corpusPipelineDuckSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk,
      |         string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, blk, tok,
      |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |  FROM t),
      |s AS (
      |  SELECT doc_id, blk,
      |         list_distinct(CASE WHEN len(tok) >= 3 THEN
      |           [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
      |            for i in generate_series(1, len(tok) - 2)]
      |           ELSE [array_to_string(tok, ' ')] END) AS sh
      |  FROM r WHERE rn <= @CAP@),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(a.sh || b.sh)) >= 0.5),
      |e AS (SELECT doc_a AS u, doc_b AS v FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |n AS (SELECT DISTINCT u FROM e),
      |reach(u, v) AS (
      |  SELECT u, u FROM n
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
      |dropped AS (SELECT u FROM reach GROUP BY u HAVING u != MIN(v)),
      |qt AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS qtok
      |  FROM documents),
      |qw AS (SELECT doc_id, unnest(qtok) AS w FROM qt),
      |qrep AS (
      |  SELECT doc_id, MAX(c) AS topc, SUM(c) AS total,
      |         SUM(CASE WHEN w IN ('a', 'the') THEN c ELSE 0 END) AS stopc
      |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM qw GROUP BY doc_id, w) g
      |  GROUP BY doc_id),
      |qf AS (
      |  SELECT qt.doc_id, len(qtok) AS n_words,
      |    ROUND(CAST(qrep.topc AS DOUBLE) / qrep.total, 4) AS rep_ratio,
      |    ROUND(CAST(qrep.stopc AS DOUBLE) / qrep.total, 4) AS stop_ratio,
      |    ROUND(list_sum(list_transform(qtok, x -> CAST(length(x) AS DOUBLE)))
      |          / len(qtok), 4) AS avg_wlen
      |  FROM qt JOIN qrep ON qt.doc_id = qrep.doc_id),
      |keepq AS (
      |  SELECT doc_id FROM qf
      |  WHERE n_words BETWEEN 30 AND 90 AND rep_ratio <= 0.12
      |    AND stop_ratio >= 0.03 AND avg_wlen BETWEEN 3 AND 8)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |       CAST(SUM(len(string_split_regex(trim(d.text), '\s+')))
      |            AS BIGINT) AS n_tokens
      |FROM documents d
      |WHERE d.doc_id NOT IN (SELECT u FROM dropped)
      |  AND d.doc_id IN (SELECT doc_id FROM keepq)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  val clustersDuckSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk,
      |         string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, blk, tok,
      |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |  FROM t),
      |s AS (
      |  SELECT doc_id, blk,
      |         list_distinct(CASE WHEN len(tok) >= 3 THEN
      |           [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
      |            for i in generate_series(1, len(tok) - 2)]
      |           ELSE [array_to_string(tok, ' ')] END) AS sh
      |  FROM r WHERE rn <= @CAP@),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(a.sh || b.sh)) >= 0.5),
      |e AS (SELECT doc_a AS u, doc_b AS v FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |n AS (SELECT DISTINCT u FROM e),
      |reach(u, v) AS (
      |  SELECT u, u FROM n
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
      |SELECT u AS doc_id, MIN(v) AS canonical FROM reach
      |GROUP BY u ORDER BY doc_id""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  // ---- incremental (delta-vs-index) dedup ---------------------------------

  /** Incremental dedup — the production shape: the standing corpus is
    * already indexed (md5 exact keys + hashed shingle sets + prefix
    * blocks); only the NEW batch is scored against it, never
    * corpus x corpus. Even doc_ids play the index, odd doc_ids the
    * arriving batch. Verdict per new doc: 'exact' (md5 hit) beats
    * 'near' (blocked jaccard >= 0.5 vs any indexed doc) beats 'unique'.
    *
    * Scale shape: both joins are equi-keyed (md5 digest / 40-char
    * block) — the delta shuffles once per key; at 100 TB the index side
    * is a bucketed table on the same keys, so only the delta moves.
    * Shingles ride as xxhash64 longs (native `shingles3`). The INDEX
    * side's block membership is capped at `MaxBucket` (deterministic
    * doc_id-order sample, mirrored in the oracle): each arriving doc
    * then joins at most MaxBucket index members per block — per-row
    * fan-out is constant, so a boilerplate-flooded index block can't
    * make the delta join quadratic. */
  val incrementalSparkSql: String =
    """WITH d AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk, md5(text) AS fp,
      |         shingles3(split(lower(trim(text)), '\\s+')) AS sh
      |  FROM documents),
      |ex AS (
      |  SELECT blk, fp, sh FROM (
      |    SELECT blk, fp, sh,
      |           ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |    FROM d WHERE doc_id % 2 = 0) q WHERE rn <= @CAP@),
      |nw AS (SELECT doc_id, blk, fp, sh FROM d WHERE doc_id % 2 = 1),
      |exact AS (
      |  SELECT nw.doc_id, COUNT(*) AS n_exact
      |  FROM nw JOIN ex ON nw.fp = ex.fp GROUP BY nw.doc_id),
      |near AS (
      |  SELECT nw.doc_id,
      |         MAX(CAST(size(array_intersect(nw.sh, ex.sh)) AS DOUBLE)
      |             / size(array_union(nw.sh, ex.sh))) AS best_jac
      |  FROM nw JOIN ex ON nw.blk = ex.blk
      |  GROUP BY nw.doc_id)
      |SELECT nw.doc_id,
      |  CASE WHEN COALESCE(n_exact, 0) > 0 THEN 'exact'
      |       WHEN COALESCE(best_jac, 0D) >= 0.5 THEN 'near'
      |       ELSE 'unique' END AS verdict,
      |  CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
      |  ROUND(COALESCE(best_jac, 0D), 4) AS best_jac
      |FROM nw
      |LEFT JOIN exact ON nw.doc_id = exact.doc_id
      |LEFT JOIN near ON nw.doc_id = near.doc_id
      |ORDER BY nw.doc_id""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  val incrementalDuckSql: String =
    """WITH t AS (
      |  SELECT doc_id, substr(text, 1, 40) AS blk, md5(text) AS fp,
      |         string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, blk, fp,
      |         list_distinct(CASE WHEN len(tok) >= 3 THEN
      |           [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
      |            for i in generate_series(1, len(tok) - 2)]
      |           ELSE [array_to_string(tok, ' ')] END) AS sh
      |  FROM t),
      |ex AS (
      |  SELECT blk, fp, sh FROM (
      |    SELECT blk, fp, sh,
      |           ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
      |    FROM d WHERE doc_id % 2 = 0) q WHERE rn <= @CAP@),
      |nw AS (SELECT doc_id, blk, fp, sh FROM d WHERE doc_id % 2 = 1),
      |exact AS (
      |  SELECT nw.doc_id, COUNT(*) AS n_exact
      |  FROM nw JOIN ex ON nw.fp = ex.fp GROUP BY nw.doc_id),
      |near AS (
      |  SELECT nw.doc_id,
      |         MAX(CAST(len(list_intersect(nw.sh, ex.sh)) AS DOUBLE)
      |             / len(list_distinct(nw.sh || ex.sh))) AS best_jac
      |  FROM nw JOIN ex ON nw.blk = ex.blk
      |  GROUP BY nw.doc_id)
      |SELECT nw.doc_id,
      |  CASE WHEN COALESCE(n_exact, 0) > 0 THEN 'exact'
      |       WHEN COALESCE(best_jac, 0) >= 0.5 THEN 'near'
      |       ELSE 'unique' END AS verdict,
      |  CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
      |  ROUND(COALESCE(best_jac, 0), 4) AS best_jac
      |FROM nw
      |LEFT JOIN exact ON nw.doc_id = exact.doc_id
      |LEFT JOIN near ON nw.doc_id = near.doc_id
      |ORDER BY nw.doc_id""".stripMargin
      .replace("@CAP@", MaxBucket.toString)

  // ---- registry ------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> Tables.sql(exactSql),
    "dedup_minhash_lsh" -> ((s, d) => minhash(s, d)),
    "dedup_simhash" -> ((s, d) => simhash(s, d)),
    "dedup_minhash_sig" -> ((s, d) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(minhashSigSparkSql)(s, d)
    }),
    "dedup_simhash_sig" -> ((s, d) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(simhashSigSparkSql)(s, d)
    }),
    "dedup_minhash_lsh_portable" -> ((s, d) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(minhashLshPortableSparkSql)(s, d)
    }),
    "text_decontaminate_near" -> ((s, d) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(decontaminateNearSparkSql)(s, d)
    }),
    "dedup_ngram_jaccard" -> ((s, d) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(ngramJaccardSparkSql)(s, d)
    }),
    "dedup_containment" -> ((s, d) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(containmentSparkSql)(s, d)
    }),
    "dedup_clusters" -> ((s, d) => clusters(s, d)),
    "dedup_survivorship" -> ((s, d) => survivorship(s, d)),
    "dedup_keeplist" -> ((s, d) => keepList(s, d)),
    "dedup_keeplist_bloom" -> ((s, d) => keepListBloom(s, d)),
    "pipeline_corpus" -> ((s, d) => corpusPipeline(s, d)),
    "dedup_incremental" -> ((s, d) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(incrementalSparkSql)(s, d)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" -> exactSql,
    "dedup_ngram_jaccard" -> ngramJaccardDuckSql,
    "dedup_minhash_sig" -> minhashSigDuckSql,
    "dedup_simhash_sig" -> simhashSigDuckSql,
    "dedup_simhash" -> simhashDuckSql,
    "dedup_minhash_lsh_portable" -> minhashLshPortableDuckSql,
    "text_decontaminate_near" -> decontaminateNearDuckSql,
    "dedup_containment" -> containmentDuckSql,
    "dedup_incremental" -> incrementalDuckSql,
    "dedup_clusters" -> clustersDuckSql,
    "dedup_survivorship" -> survivorshipDuckSql,
    "dedup_keeplist" -> keepListDuckSql,
    "dedup_keeplist_bloom" -> keepListDuckSql,
    "pipeline_corpus" -> corpusPipelineDuckSql
  )
}
