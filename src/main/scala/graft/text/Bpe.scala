package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction — the tokenizer-training
  * step of an LLM data pipeline (Sennrich et al. 2016; what HF
  * `tokenizers` runs under `BpeTrainer`).
  *
  * Scale shape (100 TB): the corpus-sized work is ONE distributed
  * word-count aggregation (map-side partial, vocabulary-sized result —
  * Heaps' law bounds word TYPES regardless of corpus size). The merge
  * loop then iterates on the word-type table: every round is a
  * vocabulary-sized pair aggregation, a driver fetch of exactly ONE row
  * (the argmax pair), and a map-side merge application with the pair
  * broadcast in the closure. Nothing corpus-sized ever shuffles again,
  * and the driver never holds more than one pair per round.
  */
object Bpe {

  /** Number of merges the query trains. Production vocabularies run
    * 30k–100k rounds of the SAME per-round plan; the round count only
    * multiplies wall-clock, not shuffle width, so a small count pins
    * the algorithm while keeping the bench query bounded. */
  val NumMerges = 16

  /** Checkpoint cadence: each round chains a `map` over the previous
    * symbols, so lineage (and closure nesting) grows linearly; a
    * localCheckpoint every few rounds keeps the plan flat the same way
    * the connected-components loop does. */
  private val CheckpointEvery = 4

  /** (word, count) types from the documents table — the one
    * corpus-sized aggregation. Tokenization matches the corpus ops:
    * split on whitespace, lowercased, empties dropped. */
  private def wordCounts(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    spark.sql(
      """SELECT w, COUNT(*) AS c FROM (
        |  SELECT explode(split(lower(trim(text)), '\\s+')) AS w
        |  FROM documents)
        |WHERE w <> '' GROUP BY w""".stripMargin)
  }

  /** Trained merge table per (session, dir) — the trainer is a build
    * artifact; `corpus_bpe_merges` and `corpus_bpe_encode` share one
    * training run instead of paying the 16-round loop twice (the
    * clusterTable pattern). Rows are collected (NumMerges-sized);
    * bounded like the other standing-artifact caches. */
  private val mergeCache =
    new graft.BoundedCache[Array[(String, String, Long)]](max = 8, _ => ())

  private def trainedMerges(spark: SparkSession,
                            dir: String): Array[(String, String, Long)] = {
    mergeCache.get(graft.BoundedCache.key(spark, dir))(
      trainMerges(spark, dir).map { case (_, a, b, n) => (a, b, n) }.toArray)
  }

  /** Train [[NumMerges]] BPE merges; returns one row per merge:
    * (rank, left, right, pair_count), rank 1 = first merge. Ties on
    * pair count break lexicographically (left, then right) so the
    * result is deterministic on any cluster. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir).zipWithIndex
      .map { case ((a, b, n), i) => ((i + 1).toLong, a, b, n) }.toSeq
      .toDF("rank", "left", "right", "pair_count")
      .orderBy("rank")
  }

  /** Candidates fetched per pass for the batched merge selection. */
  private val BatchMax = 64

  /** Longest safely-batchable prefix of one pass's pair ranking —
    * merges PROVABLY identical to selecting them one at a time.
    *
    * Why a disjoint prefix is sequential-exact: applying merge (a, b)
    * only changes the counts of pairs touching an occurrence of the new
    * symbol — i.e. pairs sharing a symbol in {a, b, ab}. A candidate
    * disjoint from every accepted merge keeps its snapshot count
    * exactly. Pairs whose counts DID change can only have decreased,
    * and every NEWLY CREATED pair (x·ab / ab·y / ab·ab) is bounded by
    * the snapshot count of an overlapping pair (each new occurrence was
    * an (x,a) / (b,y) / (b,a) occurrence pre-merge). Walking the
    * ranking in (count desc, left, right) order and STOPPING at the
    * first candidate that overlaps the accepted set therefore keeps
    * every accepted merge the true sequential argmax of its round —
    * except possibly accepted entries TIED with that stop count, where
    * a new pair could tie and win the lexicographic break, so those are
    * trimmed (the pass's first merge is the unconditional argmax and is
    * always kept). A truncated fetch (list == BatchMax) bounds unseen
    * pairs by the last fetched count the same way. */
  private[graft] def batchable(top: Seq[(String, String, Long)],
                               complete: Boolean,
                               maxAccept: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var stopCount = if (complete) -1L else top.last._3
    var i = 0
    var stopped = false
    // scan the WHOLE fetched list for the stop point even past
    // maxAccept: an overlapping candidate TIED with an accepted merge
    // must still trigger the tie-trim, or a new pair it bounds could
    // have outranked the accepted tail (truncation happens after)
    while (i < top.length && !stopped) {
      val (l, r, n) = top(i)
      if (used(l) || used(r)) { stopCount = math.max(stopCount, n); stopped = true }
      else {
        accepted += ((l, r, n))
        used += l; used += r; used += l + r
        i += 1
      }
    }
    if (accepted.isEmpty) accepted.toSeq
    else (accepted.head +: accepted.tail.filter(_._3 > stopCount).toSeq)
      .take(maxAccept)
  }

  private def trainMerges(spark: SparkSession,
                          dir: String): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    var syms = wordCounts(spark, dir).as[(String, Long)]
      .map { case (w, c) => (c, w.map(_.toString).toArray) }
      .toDF("c", "syms").as[(Long, Array[String])]
      .localCheckpoint()

    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var pass = 0
    while (rank <= NumMerges) {
      // vocabulary-sized pair aggregation; ONE driver fetch of the top
      // candidates serves a whole BATCH of merges (BatchMax rows, not
      // the pair table)
      val top = syms.flatMap { case (c, s) =>
        var i = 0
        val out = Array.newBuilder[((String, String), Long)]
        while (i < s.length - 1) { out += (((s(i), s(i + 1)), c)); i += 1 }
        out.result()
      }.toDF("pair", "c")
        .groupBy("pair").agg(sum("c").as("n"))
        .orderBy(desc("n"), col("pair._1"), col("pair._2"))
        .limit(BatchMax)
        .collect()
        .map(row => {
          val pr = row.getStruct(0)
          (pr.getString(0), pr.getString(1), row.getLong(1))
        }).toSeq
      if (top.isEmpty) rank = NumMerges + 1 // degenerate corpus: done
      else {
        val batch = batchable(top, complete = top.length < BatchMax,
          maxAccept = NumMerges - rank + 1)
        batch.foreach { case (a, b, n) => merges += ((rank, a, b, n)); rank += 1 }
        // ONE map applies the whole batch: the merges are symbol-disjoint,
        // so in-order application within the scan equals sequential
        val bcBatch = batch.map { case (a, b, _) => (a, b) }.toArray
        syms = syms.map { case (c, s) =>
          var cur = s
          var m = 0
          while (m < bcBatch.length) {
            val (a, b) = bcBatch(m)
            if (cur.length >= 2) {
              val out = Array.newBuilder[String]
              var i = 0
              while (i < cur.length) {
                if (i < cur.length - 1 && cur(i) == a && cur(i + 1) == b) {
                  out += (a + b); i += 2
                } else { out += cur(i); i += 1 }
              }
              cur = out.result()
            }
            m += 1
          }
          (c, cur)
        }
        pass += 1
        if (pass % CheckpointEvery == 0) syms = syms.localCheckpoint()
      }
    }
    merges.result()
  }

  /** Greedy BPE apply for one word: each trained merge, in rank order,
    * rewrites the symbol sequence with the same left-to-right scan the
    * trainer used — so encode∘train reproduces the trainer's final
    * symbol state exactly (spec-pinned). */
  private[graft] def encodeWord(w: String,
                                merges: Array[(String, String)]): Array[String] = {
    var s: Array[String] = w.map(_.toString).toArray
    var m = 0
    while (m < merges.length) {
      val (a, b) = merges(m)
      if (s.length >= 2) {
        val out = Array.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += s(i); i += 1 }
        }
        s = out.result()
      }
      m += 1
    }
    s
  }

  /** Path shared between the Spark encode and its DuckDB oracle: the
    * trained (rank, l, r) merge table lands here, and the oracle
    * re-APPLIES it independently (see [[bpeEncodeDuckSql]]). */
  private val MergesPath =
    s"${sys.props("java.io.tmpdir")}/graft_bpe_merges_parquet"

  /** Tokenizer APPLY — the other half of the BPE story: encode every
    * document with the trained merge table. Scale shape: the merge table
    * is tiny and ships in the closure (a production 50k-merge vocab is
    * ~1 MB); the encode runs once per word TYPE (vocabulary-sized work,
    * Heaps-bounded, independent of corpus size) and documents take a
    * broadcast join on the word — the only corpus-sized passes are one
    * explode and one per-doc aggregation. Emits per-doc whitespace-token
    * and BPE-token counts plus fertility (pieces per word) — the numbers
    * a tokenization pipeline actually monitors.
    *
    * Cross-engine check: the merge table lands as parquet and DuckDB
    * re-applies all 16 merges with its OWN greedy-scan implementation
    * (recursive CTE + delimiter-wrapped string replace, which has
    * exactly the trainer's left-to-right non-overlapping semantics),
    * re-derives every word type's piece count, and re-aggregates per
    * doc — so the distributed apply path is hash-checked, while the
    * training loop itself stays pinned by BpeSpec's sequential
    * reference. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trained = trainedMerges(spark, dir)
    trained.zipWithIndex
      .map { case ((a, b, _), i) => ((i + 1).toLong, a, b) }.toSeq
      .toDF("rank", "l", "r")
      .coalesce(1).write.mode("overwrite").parquet(MergesPath)
    val merges = trained.map { case (a, b, _) => (a, b) }
    val bc = spark.sparkContext.broadcast(merges)
    Tables.register(spark, dir)
    val toks = spark.sql(
      """SELECT doc_id, w FROM (
        |  SELECT doc_id, explode(split(lower(trim(text)), '\\s+')) AS w
        |  FROM documents)
        |WHERE w <> ''""".stripMargin)
    val types = toks.select("w").distinct().as[String]
      .map(w => (w, encodeWord(w, bc.value).length.toLong))
      .toDF("w", "n_pieces")
    toks.join(broadcast(types), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  /** Oracle-checkable foundation of the trainer: round-1 adjacent
    * character-pair counts over the word types, top 50 with the same
    * (count desc, left, right) tie-break the trainer uses. DuckDB
    * replays it with substr + generate_series; the full merge LOOP is
    * not SQL-expressible, so it is pinned by BpeSpec's sequential
    * reference implementation instead. */
  val bpePairsSparkSql: String =
    """WITH wc AS (
      |  SELECT w, COUNT(*) AS c FROM (
      |    SELECT explode(split(lower(trim(text)), '\\s+')) AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |p AS (
      |  SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, c
      |  FROM wc LATERAL VIEW explode(sequence(1, length(w) - 1)) t AS i
      |  WHERE length(w) >= 2)
      |SELECT l, r, CAST(SUM(c) AS BIGINT) AS n
      |FROM p GROUP BY l, r
      |ORDER BY n DESC, l, r LIMIT 50""".stripMargin

  val bpePairsDuckSql: String =
    """WITH wc AS (
      |  SELECT w, COUNT(*) AS c FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |p AS (
      |  -- DuckDB can't take a lateral column bound in generate_series
      |  -- here; constant grid + filter (the mm_frame_sample pattern).
      |  -- Corpus words are <=8 chars; a >32-char word would make this
      |  -- row disagree with the Spark spelling = loud red oracle row.
      |  SELECT substr(w, CAST(g.i AS INT), 1) AS l,
      |         substr(w, CAST(g.i AS INT) + 1, 1) AS r, c
      |  FROM wc, generate_series(1, 31) AS g(i)
      |  WHERE g.i <= len(w) - 1)
      |SELECT l, r, CAST(SUM(c) AS BIGINT) AS n
      |FROM p GROUP BY l, r
      |ORDER BY n DESC, l, r LIMIT 50""".stripMargin

  /** DuckDB re-implementation of greedy BPE apply over the landed merge
    * table. Each word type becomes a delimiter-wrapped symbol string
    * (`\x1f sym \x1e` per symbol — separators no corpus word contains);
    * merge k rewrites it with `replace(s, \x1f a \x1e \x1f b \x1e,
    * \x1f ab \x1e)`, whose leftmost-first, resume-after-replacement
    * semantics are exactly the trainer's scan (verified: 'l l l' →
    * 'll l', 'a b a b' → 'ab ab'). The recursive CTE applies merges in
    * rank order; a word's piece count is its delimiter count. */
  /** Everything through the per-word-type piece counts (`np`) — shared
    * by the encode oracle and `corpus_pack_bpe`'s (which prefixes shard
    * packing onto the same re-derived token counts). */
  private[text] def bpeEncodeCtes: String = {
    val (train, union) = bpeTrainCtes
    s"""WITH RECURSIVE $train,
       |m AS MATERIALIZED (
       |  SELECT rank, l, r FROM ($union)),
       |toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE w <> ''),
       |types AS (SELECT DISTINCT w FROM toks),
       |enc(w, s, k) AS (
       |  SELECT w,
       |         regexp_replace(w, '(.)', chr(31) || '\\1' || chr(30), 'g'),
       |         0
       |  FROM types
       |  UNION ALL
       |  SELECT e.w,
       |         replace(e.s,
       |           chr(31) || m.l || chr(30) || chr(31) || m.r || chr(30),
       |           chr(31) || m.l || m.r || chr(30)),
       |         e.k + 1
       |  FROM enc e JOIN m ON m.rank = e.k + 1),
       |np AS (
       |  SELECT w, len(s) - len(replace(s, chr(31), '')) AS n_pieces
       |  FROM enc
       |  WHERE k = (SELECT COALESCE(MAX(rank), 0) FROM m))""".stripMargin
  }

  val bpeEncodeDuckSql: String =
    s"""$bpeEncodeCtes
       |SELECT t.doc_id, COUNT(*) AS n_words,
       |       CAST(SUM(np.n_pieces) AS BIGINT) AS n_bpe_tokens,
       |       ROUND(CAST(SUM(np.n_pieces) AS DOUBLE) / COUNT(*), 4) AS fertility
       |FROM toks t JOIN np ON t.w = np.w
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** DuckDB re-TRAINING of the full merge loop — the last BPE piece to
    * graduate from spec-pinned to hash-checked (pairs anchor round 1,
    * encode anchors the apply; this re-derives all [[NumMerges]] merges
    * from the raw corpus). The loop is unrolled: each round k is three
    * chained CTEs — pair counts over the round-(k−1) symbol strings
    * (split on the `\x1e\x1f` symbol boundary; overlapping adjacent
    * pairs, like the trainer), the argmax with the trainer's
    * (count desc, left, right) tie-break, and the delimiter-wrapped
    * `replace` apply with the trainer's leftmost-first non-overlapping
    * scan. Every CTE is `MATERIALIZED`: without it DuckDB re-inlines
    * r(k−1) into both consumers and the plan doubles per round (2^16
    * scans — the same re-inlining hazard `corpus_pmi` defeats
    * Spark-side with window sums). Tie-break parity holds because the
    * corpus is BMP-only, where UTF-8 byte order (DuckDB) and UTF-16
    * code-unit order (Spark) both equal codepoint order. Symbols are
    * bounded by the longest word (≤63 here, loud if exceeded — the
    * bpePairsDuckSql convention). */
  /** Unrolled DuckDB re-training CTEs shared by the merges and encode
    * oracles (semantics documented at [[bpeMergesDuckSql]]): the chained
    * MATERIALIZED CTE list and the UNION ALL over the per-round argmax
    * rows. The ENCODE oracle retrains rather than reading the landed
    * merge table: that artifact is sf-dependent, and a bench run at
    * another SF between Verify and the DuckDB compare would clobber it
    * (self-containment also makes the encode row check train+apply end
    * to end against the raw corpus). */
  private def bpeTrainCtes: (String, String) = {
    val F = "chr(31)"
    val G = "chr(30)"
    val ctes = Seq.newBuilder[String]
    ctes += s"""wc AS MATERIALIZED (
               |  SELECT w, COUNT(*) AS c FROM (
               |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
               |    FROM documents)
               |  WHERE w <> '' GROUP BY w)""".stripMargin
    ctes += s"""r0 AS MATERIALIZED (
               |  SELECT regexp_replace(w, '(.)', $F || '\\1' || $G, 'g') AS s, c
               |  FROM wc)""".stripMargin
    for (k <- 1 to NumMerges) {
      ctes += s"""b$k AS MATERIALIZED (
                 |  SELECT $k AS rank, l, r, CAST(SUM(c) AS BIGINT) AS n FROM (
                 |    SELECT syms[CAST(g.i AS INT)] AS l,
                 |           syms[CAST(g.i AS INT) + 1] AS r, c
                 |    FROM (SELECT string_split(trim(s, $F || $G), $G || $F) AS syms, c
                 |          FROM r${k - 1}), generate_series(1, 63) AS g(i)
                 |    WHERE g.i <= len(syms) - 1)
                 |  GROUP BY l, r ORDER BY n DESC, l, r LIMIT 1)""".stripMargin
      ctes += s"""r$k AS MATERIALIZED (
                 |  SELECT replace(s, $F || b.l || $G || $F || b.r || $G,
                 |                 $F || b.l || b.r || $G) AS s, c
                 |  FROM r${k - 1} CROSS JOIN b$k b)""".stripMargin
    }
    (ctes.result().mkString(",\n"),
      (1 to NumMerges).map(k => s"SELECT * FROM b$k").mkString(" UNION ALL "))
  }

  val bpeMergesDuckSql: String = {
    val (train, union) = bpeTrainCtes
    s"WITH $train\nSELECT CAST(rank AS BIGINT) AS rank, l AS left," +
      s" r AS right, n AS pair_count FROM ($union) ORDER BY rank"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_bpe_pairs" -> Tables.sql(bpePairsSparkSql),
    "corpus_bpe_merges" -> ((s, d) => bpeMerges(s, d)),
    "corpus_bpe_encode" -> ((s, d) => bpeEncode(s, d)))

  val oracleSql: Map[String, String] = Map(
    "corpus_bpe_pairs" -> bpePairsDuckSql,
    "corpus_bpe_merges" -> bpeMergesDuckSql,
    "corpus_bpe_encode" -> bpeEncodeDuckSql)
}
