package graft.text

import graft.Tables
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators beyond per-doc analysis: training-shard
  * packing and PII scrubbing (north-star extensions; no reference
  * analog — these are the ops a 100 TB training-data pipeline runs after
  * filtering/dedup and before tokenization).
  */
object Corpus {

  /** Tokens per shard for `corpus_pack`. Small on the test corpus so the
    * result has many shards; at scale this is ~shard-file size in tokens. */
  val ShardBudget = 4096L

  // Bounded result cache for the two-phase prefix-scan ops: each entry
  // pins its persisted range-partitioned intermediate (the offsets were
  // computed from that exact layout), so eviction must unpersist it.
  // max must exceed the worst-case live key count — 5 scan ops
  // (pack/packBpe/shuffle/packShuffled/sample ranks) x 3 scale-factor
  // dirs — with
  // headroom, because eviction unpersists the entry's range-partitioned
  // intermediate and a previously returned DataFrame that still references
  // it would silently re-sample range boundaries on recompute
  private val packCache =
    new graft.BoundedCache[(DataFrame, org.apache.spark.sql.Dataset[_])](
      max = 20, onEvict = _._2.unpersist(blocking = false))

  private def cachedScan(key: String)(
      build: => (DataFrame, org.apache.spark.sql.Dataset[_])): DataFrame =
    packCache.get(key)(build)._1

  /** Token-budget shard packing: assign documents (in doc_id order) to
    * consecutive training shards of ~`budget` tokens, shard boundary at
    * `floor(tokens_before_doc / budget)`.
    *
    * The naive spelling is a single global window
    * (`SUM(toks) OVER (ORDER BY doc_id)`) — an unpartitioned sort that
    * serializes 100 TB through one task. This implementation is the
    * classic two-phase distributed scan instead:
    *   1. `repartitionByRange(doc_id) + sortWithinPartitions` — the only
    *      shuffle, and partition index order IS global doc_id order;
    *   2. per-partition token sums (P longs to the driver — metadata,
    *      not data), exclusive-prefix them, broadcast the offsets;
    *   3. map-side running sum per partition resumes from its offset.
    * Every stage is parallel; driver traffic is O(partitions).
    * `CorpusSpec` pins equality with the single-window spelling. */
  def pack(spark: SparkSession, dir: String,
           budget: Long = ShardBudget): DataFrame = {
    cachedScan(graft.BoundedCache.key(spark, "pack", dir, budget)) {
      import spark.implicits._
      val p = spark.sparkContext.defaultParallelism
      val toks = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("toks"))
        .repartitionByRange(p, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .as[(Long, Long)]
        .persist()
      val partSums = toks.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var s = 0L
        it.foreach { case (_, t) => s += t }
        Iterator.single((pid, s))
      }.collect().toMap
      val nParts = toks.rdd.getNumPartitions
      val offsets = new Array[Long](nParts)
      var acc = 0L
      var i = 0
      while (i < nParts) {
        offsets(i) = acc
        acc += partSums.getOrElse(i, 0L)
        i += 1
      }
      val bc = spark.sparkContext.broadcast(offsets)
      val out = toks.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var run = bc.value(pid)
        it.map { case (id, t) =>
          val shard = run / budget
          run += t
          (id, t, shard)
        }
      }.toDF("doc_id", "toks", "shard_id")
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("tok_sum"))
        .orderBy("shard_id")
      (out, toks)
    }
  }

  /** Shard packing by REAL tokenizer counts — what a training pipeline
    * actually packs by: the same two-phase distributed prefix scan as
    * [[pack]], but over the per-doc BPE token counts the trained
    * tokenizer produces (`Bpe.bpeEncode`, itself train-once-cached).
    * The whitespace variant remains as the cheap pre-tokenizer
    * estimate; this is the post-tokenizer ground truth. The DuckDB
    * oracle re-derives training, apply, per-doc counts AND the shard
    * assignment end to end from the raw corpus. */
  def packBpe(spark: SparkSession, dir: String,
              budget: Long = ShardBudget): DataFrame = {
    cachedScan(graft.BoundedCache.key(spark, "packbpe", dir, budget)) {
      import spark.implicits._
      val p = spark.sparkContext.defaultParallelism
      val toks = Bpe.bpeEncode(spark, dir)
        .select(col("doc_id"), col("n_bpe_tokens").as("toks"))
        .repartitionByRange(p, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .as[(Long, Long)]
        .persist()
      val partSums = toks.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var s = 0L
        it.foreach { case (_, t) => s += t }
        Iterator.single((pid, s))
      }.collect().toMap
      val nParts = toks.rdd.getNumPartitions
      val offsets = new Array[Long](nParts)
      var acc = 0L
      var i = 0
      while (i < nParts) {
        offsets(i) = acc
        acc += partSums.getOrElse(i, 0L)
        i += 1
      }
      val bc = spark.sparkContext.broadcast(offsets)
      val out = toks.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var run = bc.value(pid)
        it.map { case (id, t) =>
          val shard = run / budget
          run += t
          (id, t, shard)
        }
      }.toDF("doc_id", "toks", "shard_id")
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("tok_sum"))
        .orderBy("shard_id")
      (out, toks)
    }
  }

  val packBpeDuckSql: String =
    s"""${Bpe.bpeEncodeCtes},
       |docbpe AS (
       |  SELECT t.doc_id, CAST(SUM(np.n_pieces) AS BIGINT) AS toks
       |  FROM toks t JOIN np ON t.w = np.w
       |  GROUP BY t.doc_id),
       |c AS (
       |  SELECT doc_id, toks,
       |         COALESCE(SUM(toks) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM docbpe)
       |SELECT CAST(before // $ShardBudget AS BIGINT) AS shard_id,
       |       COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tok_sum
       |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin

  /** Deterministic global training-order shuffle: every epoch pipeline
    * shuffles the corpus before sharding, and doing it with an RNG makes
    * re-runs/backfills irreproducible. Order here is `md5(doc_id)` — a
    * content-independent pseudo-random permutation any engine replays
    * bit-identically.
    *
    * The naive rank is a single global window (`row_number() OVER
    * (ORDER BY k)`) — an unpartitioned sort through one task. This is
    * the same two-phase distributed scan as [[pack]]: range-partition on
    * the hash key (the only shuffle; uniform by construction, so no
    * skew), count per partition (P longs to the driver), broadcast
    * exclusive offsets, resume per-partition ranks map-side. */
  def shuffle(spark: SparkSession, dir: String): DataFrame = {
    cachedScan(graft.BoundedCache.key(spark, "shuffle", dir)) {
      import spark.implicits._
      val p = spark.sparkContext.defaultParallelism
      val keyed = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
        .repartitionByRange(p, col("k"), col("doc_id"))
        .sortWithinPartitions("k", "doc_id")
        .as[(Long, String)]
        .persist()
      val partCounts = keyed.mapPartitions { it =>
        Iterator.single((TaskContext.getPartitionId(), it.size.toLong))
      }.collect().toMap
      val nParts = keyed.rdd.getNumPartitions
      val offsets = new Array[Long](nParts)
      var acc = 0L
      var i = 0
      while (i < nParts) {
        offsets(i) = acc
        acc += partCounts.getOrElse(i, 0L)
        i += 1
      }
      val bc = spark.sparkContext.broadcast(offsets)
      val out = keyed.mapPartitions { it =>
        var pos = bc.value(TaskContext.getPartitionId())
        it.map { case (id, _) => pos += 1; (id, pos) }
      }.toDF("doc_id", "pos").orderBy("doc_id")
      (out, keyed)
    }
  }

  /** Oracle: the single-window spelling of the same permutation. */
  val shuffleDuckSql: String =
    """SELECT doc_id,
      |       row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
      |                          doc_id) AS pos
      |FROM documents ORDER BY doc_id""".stripMargin

  /** [[shuffle]] ∘ [[pack]]: token-budget shards over the SHUFFLED order
    * with a per-shard doc-id manifest fingerprint — the artifact a
    * training run actually consumes (shards must be token-balanced AND
    * order-randomized, and the manifest is what makes a re-run provably
    * read the same shards). Same two-phase scan, range-partitioned on
    * the md5 key instead of doc_id; the manifest md5 is over doc_ids in
    * shard-local shuffled order, so any divergence in membership OR
    * order fails the oracle hash. */
  def packShuffled(spark: SparkSession, dir: String,
                   budget: Long = ShardBudget): DataFrame = {
    cachedScan(graft.BoundedCache.key(spark, "packShuffled", dir, budget)) {
      import spark.implicits._
      val p = spark.sparkContext.defaultParallelism
      val keyed = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"),
          expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("toks"))
        .repartitionByRange(p, col("k"), col("doc_id"))
        .sortWithinPartitions("k", "doc_id")
        .as[(Long, String, Long)]
        .persist()
      val partSums = keyed.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var s = 0L
        it.foreach { case (_, _, t) => s += t }
        Iterator.single((pid, s))
      }.collect().toMap
      val nParts = keyed.rdd.getNumPartitions
      val offsets = new Array[Long](nParts)
      var acc = 0L
      var i = 0
      while (i < nParts) {
        offsets(i) = acc
        acc += partSums.getOrElse(i, 0L)
        i += 1
      }
      val bc = spark.sparkContext.broadcast(offsets)
      val out = keyed.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var run = bc.value(pid)
        it.map { case (id, k, t) =>
          val shard = run / budget
          run += t
          (id, k, t, shard)
        }
      }.toDF("doc_id", "k", "toks", "shard_id")
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("tok_sum"),
          md5(concat_ws(",", transform(
            array_sort(collect_list(struct(col("k"), col("doc_id")))),
            x => x("doc_id").cast("string")))).as("manifest_md5"))
        .orderBy("shard_id")
      (out, keyed)
    }
  }

  /** Oracle: global window over the md5 order. */
  val packShuffledDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, k, toks,
       |         COALESCE(SUM(toks) OVER (ORDER BY k, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM t)
       |SELECT CAST(before // $ShardBudget AS BIGINT) AS shard_id,
       |       COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tok_sum,
       |       md5(string_agg(CAST(doc_id AS VARCHAR), ','
       |                      ORDER BY k, doc_id)) AS manifest_md5
       |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin

  /** Oracle: the single-window spelling of the same prefix sum. */
  val packDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks,
       |         COALESCE(SUM(toks) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM t)
       |SELECT CAST(before // $ShardBudget AS BIGINT) AS shard_id,
       |       COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tok_sum
       |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin

  /** PII scrub: redact email addresses and digit runs, count both, and
    * fingerprint the scrubbed text — pure projection (no shuffle), the
    * map-side normalization pass of a corpus pipeline. Identical regex
    * semantics in both engines (character classes + bounded repeats
    * only). The synthetic corpus contains no PII, so both engines first
    * append the same deterministic contact line — the scrub is then
    * non-vacuous and the md5 only matches if redaction behaved
    * identically. */
  // [.] not \. — Spark SQL string literals eat single backslashes, so
  // '\.' would reach the regex engine as a bare wildcard dot
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private val numRe = "[0-9]+"
  private val withPii =
    "text || ' contact user' || CAST(doc_id AS STRING) || " +
      "'@example.com ref ' || CAST(doc_id * 37 AS STRING)"
  private val withPiiDuck = withPii.replace("AS STRING", "AS VARCHAR")

  val piiSparkSql: String =
    s"""WITH t AS (SELECT doc_id, $withPii AS txt FROM documents)
       |SELECT doc_id,
       |  CAST(size(regexp_extract_all(txt, '$emailRe', 0)) AS BIGINT) AS n_email,
       |  CAST(size(regexp_extract_all(txt, '$numRe', 0)) AS BIGINT) AS n_num,
       |  md5(regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>'),
       |      '$numRe', '<NUM>')) AS scrub_md5
       |FROM t ORDER BY doc_id""".stripMargin

  val piiDuckSql: String =
    s"""WITH t AS (SELECT doc_id, $withPiiDuck AS txt FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(txt, '$emailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(txt, '$numRe')) AS BIGINT) AS n_num,
       |  md5(regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
       |      '$numRe', '<NUM>', 'g')) AS scrub_md5
       |FROM t ORDER BY doc_id""".stripMargin

  // ---- deterministic train/val/test split ---------------------------------

  /** Content-independent deterministic split: bucket on the first hex
    * nibble of `md5(doc_id)` — train 12/16, val 2/16, test 2/16. A pure
    * projection (zero shuffle, no RNG state): the assignment of any doc
    * is reproducible on any cluster, any partitioning, any engine — the
    * property a 100 TB pipeline needs so that re-runs, backfills, and
    * incremental appends never migrate a document across splits. */
  val splitSparkSql: String =
    """SELECT doc_id,
      |  CASE WHEN h < 'c' THEN 'train' WHEN h < 'e' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id, substr(md5(CAST(doc_id AS STRING)), 1, 1) AS h
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  val splitDuckSql: String =
    """SELECT doc_id,
      |  CASE WHEN h < 'c' THEN 'train' WHEN h < 'e' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---- global segment dedup (CCNet-style) ---------------------------------

  /** Tokens per segment for `corpus_segment_dedup`. The segmenter is
    * pluggable in a real pipeline (sentences, paragraphs); the corpus
    * here is newline-free token salad, so fixed 8-token windows stand in
    * as the deterministic segmentation. */
  val SegTokens = 8

  /** Global segment-level dedup (the CCNet/RefinedWeb paragraph-dedup
    * shape): segment every document, keep only the globally-first
    * occurrence of each segment (first = smallest `(doc_id, pos)`), and
    * reassemble each document from its kept segments.
    *
    * Scale shape: the only shuffle is the window partitioned on
    * `md5(seg)` — a fixed-width, uniformly-distributed key (never the
    * segment text), so the dedup state for 100 TB spreads evenly and
    * no reducer sees more than one hash bucket's instances. Reassembly
    * is a doc_id-keyed aggregation whose input was already co-located
    * by the window's sort, and the emitted rows carry md5 fingerprints,
    * not bodies. */
  val segmentDedupSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, split(lower(trim(text)), '\\\\s+') AS tok
       |  FROM documents),
       |seg AS (
       |  -- positions explode; the segment string itself is a plain
       |  -- (codegen'd) slice+concat per output row, not an interpreted
       |  -- higher-order transform array build
       |  SELECT doc_id, p1 AS pos,
       |         concat_ws(' ', slice(tok, p1 * $SegTokens + 1, $SegTokens)) AS seg
       |  FROM t
       |  -- greatest(..., 0): Spark's sequence(0, -1) is DESCENDING
       |  -- [0, -1] (DuckDB generate_series is empty), so an empty token
       |  -- array would emit a bogus pos=-1 segment; the WHERE guard
       |  -- (mirrored in the Duck spelling) drops empty/NULL-token docs
       |  -- on both engines, so the spelling is tokenizer-independent
       |  LATERAL VIEW posexplode(
       |    sequence(0, greatest(
       |      CAST(ceil(size(tok) / ${SegTokens}.0) AS INT) - 1, 0))) s AS idx, p1
       |  WHERE size(tok) > 0),
       |r AS (
       |  SELECT doc_id, pos, seg,
       |         row_number() OVER (PARTITION BY md5(seg)
       |                            ORDER BY doc_id, pos) AS rk
       |  FROM seg)
       |SELECT doc_id,
       |       COUNT(*) AS n_seg,
       |       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       md5(concat_ws(' ',
       |         transform(array_sort(collect_list(
       |           CASE WHEN rk = 1 THEN struct(pos, seg) END)),
       |           x -> x.seg))) AS clean_md5
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val segmentDedupDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |seg0 AS (
       |  SELECT doc_id,
       |         [{'pos': i, 'seg': array_to_string(
       |            tok[i * $SegTokens + 1 : i * $SegTokens + $SegTokens], ' ')}
       |          for i in generate_series(0, CAST(ceil(len(tok) / ${SegTokens}.0) AS INT) - 1)]
       |           AS segs
       |  FROM t WHERE len(tok) > 0),
       |seg AS (
       |  SELECT doc_id, s.pos AS pos, s.seg AS seg
       |  FROM (SELECT doc_id, unnest(segs) AS s FROM seg0)),
       |r AS (
       |  SELECT doc_id, pos, seg,
       |         row_number() OVER (PARTITION BY md5(seg)
       |                            ORDER BY doc_id, pos) AS rk
       |  FROM seg)
       |SELECT doc_id,
       |       COUNT(*) AS n_seg,
       |       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       md5(COALESCE(string_agg(CASE WHEN rk = 1 THEN seg END, ' '
       |                               ORDER BY pos), '')) AS clean_md5
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- cross-doc segment-frequency filter (C4-style boilerplate) ----------

  /** Cross-document boilerplate removal (the C4-shape complement of
    * [[segmentDedupSparkSql]]): a segment occurring in MORE THAN ONE
    * document is boilerplate (headers, footers, license blocks) and
    * every occurrence is dropped — unlike segment dedup, which keeps
    * the globally-first one. Within-doc repeats are kept (that signal
    * belongs to `text_repetition`).
    *
    * Scale shape: "appears in >1 distinct doc" is decided with
    * min/max-over-hash windows (`min(doc_id) != max(doc_id)` over
    * `md5(seg)` — COUNT(DISTINCT) windows don't exist in either
    * engine, and min/max carries no per-instance state). The only
    * shuffle is that window's fixed-width uniformly-distributed hash
    * key, exactly the segment-dedup layout, so one reducer never sees
    * more than a hash bucket. Reassembly emits md5 fingerprints, not
    * bodies. */
  val segmentFilterSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, split(lower(trim(text)), '\\\\s+') AS tok
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, p1 AS pos,
       |         concat_ws(' ', slice(tok, p1 * $SegTokens + 1, $SegTokens)) AS seg
       |  FROM t
       |  LATERAL VIEW posexplode(
       |    sequence(0, greatest(
       |      CAST(ceil(size(tok) / ${SegTokens}.0) AS INT) - 1, 0))) s AS idx, p1
       |  WHERE size(tok) > 0),
       |r AS (
       |  SELECT doc_id, pos, seg,
       |         min(doc_id) OVER (PARTITION BY md5(seg)) AS d0,
       |         max(doc_id) OVER (PARTITION BY md5(seg)) AS d1
       |  FROM seg)
       |SELECT doc_id,
       |       COUNT(*) AS n_seg,
       |       CAST(SUM(CASE WHEN d0 = d1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       md5(concat_ws(' ',
       |         transform(array_sort(collect_list(
       |           CASE WHEN d0 = d1 THEN struct(pos, seg) END)),
       |           x -> x.seg))) AS clean_md5
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val segmentFilterDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |seg0 AS (
       |  SELECT doc_id,
       |         [{'pos': i, 'seg': array_to_string(
       |            tok[i * $SegTokens + 1 : i * $SegTokens + $SegTokens], ' ')}
       |          for i in generate_series(0, CAST(ceil(len(tok) / ${SegTokens}.0) AS INT) - 1)]
       |           AS segs
       |  FROM t WHERE len(tok) > 0),
       |seg AS (
       |  SELECT doc_id, s.pos AS pos, s.seg AS seg
       |  FROM (SELECT doc_id, unnest(segs) AS s FROM seg0)),
       |r AS (
       |  SELECT doc_id, pos, seg,
       |         min(doc_id) OVER (PARTITION BY md5(seg)) AS d0,
       |         max(doc_id) OVER (PARTITION BY md5(seg)) AS d1
       |  FROM seg)
       |SELECT doc_id,
       |       COUNT(*) AS n_seg,
       |       CAST(SUM(CASE WHEN d0 = d1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       md5(COALESCE(string_agg(CASE WHEN d0 = d1 THEN seg END, ' '
       |                               ORDER BY pos), '')) AS clean_md5
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- BM25 retrieval scoring ---------------------------------------------

  /** Query terms for `corpus_bm25` — high-frequency corpus vocabulary so
    * the score surface is non-vacuous at every scale factor. */
  val Bm25Terms: Seq[String] = Seq("join", "hash", "vector")
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 scoring of the whole corpus against a fixed term set — the
    * retrieval primitive of data-curation loops (find training docs
    * matching a probe set). Two tiny aggregates (N/avgdl and per-term
    * document frequencies — a handful of doubles) feed a pure map-side
    * scoring projection: at 100 TB the stats rows broadcast and the scan
    * never shuffles. Term scores are summed in a fixed literal order so
    * the double arithmetic is bit-identical across engines; emitted
    * rounded to 4 decimals. */
  /** The WITH-list of the BM25 computation, ending in a `bm(doc_id,
    * bm25)` CTE — reusable by compound retrieval queries (hybrid RRF
    * fusion in [[graft.similarity.Similarity]]) without re-spelling the
    * scoring arithmetic. Starts with `WITH` (the tfCte carries it). */
  private def bm25Ctes(tfCte: String): String = {
    val dfCols = Bm25Terms.indices.map { i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
    }.mkString(", ")
    val terms = Bm25Terms.indices.map { i =>
      s"ln((s.n - f.df$i + 0.5) / (f.df$i + 0.5) + 1.0) * tf.tf$i * ${Bm25K1 + 1.0} / " +
        s"(tf.tf$i + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * tf.dl / s.avgdl))"
    }.mkString("\n       |         + ")
    s"""$tfCte
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM tf),
       |f AS (SELECT $dfCols FROM tf),
       |bm AS (SELECT tf.doc_id,
       |       ROUND($terms, 4) AS bm25
       |FROM tf CROSS JOIN s CROSS JOIN f)""".stripMargin
  }

  private def bm25Sql(tfCte: String): String =
    bm25Ctes(tfCte) + "\nSELECT doc_id, bm25 FROM bm ORDER BY doc_id"

  // Spark: one token explode + conditional aggregation (codegen'd partial
  // aggs) instead of three interpreted `filter(tok, ...)` lambdas per doc.
  private val bm25SparkTfCte: String = {
    val sumCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN w = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS tf$i"
    }.mkString(",\n      |         ")
    s"""WITH tf AS (
      |  SELECT doc_id,
      |         $sumCols,
      |         CAST(COUNT(*) AS DOUBLE) AS dl
      |  FROM (SELECT doc_id, explode(split(lower(trim(text)), '\\\\s+')) AS w
      |        FROM documents)
      |  GROUP BY doc_id),""".stripMargin
  }

  private val bm25DuckTfCte: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(tok, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n      |        ")
    s"""WITH d AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id,
      |        $tfCols,
      |        CAST(len(tok) AS DOUBLE) AS dl
      |  FROM d),""".stripMargin
  }

  val bm25SparkSql: String = bm25Sql(bm25SparkTfCte)
  val bm25DuckSql: String = bm25Sql(bm25DuckTfCte)

  /** WITH-lists ending in `bm(doc_id, bm25)` for compound retrieval
    * queries (hybrid RRF). */
  private[graft] val bm25SparkCtes: String = bm25Ctes(bm25SparkTfCte)
  private[graft] val bm25DuckCtes: String = bm25Ctes(bm25DuckTfCte)

  // ---- domain mixing weights ----------------------------------------------

  /** Source-mixture planning: per-source token share plus the up/down
    * sampling weight that would flatten the mixture to uniform across
    * sources — the control table a training-mix scheduler consumes.
    * Two-level aggregation (per-source partials, then one 20-row global
    * roll-up); the global stats join is a broadcast of one row. */
  val mixSparkSql: String =
    """WITH t AS (
      |  SELECT source,
      |         CAST(size(split(lower(trim(text)), '\\s+')) AS BIGINT) AS toks
      |  FROM documents),
      |agg AS (
      |  SELECT source, COUNT(*) AS n_docs, SUM(toks) AS tok_sum
      |  FROM t GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(tok_sum) AS DOUBLE) AS total,
      |         CAST(COUNT(*) AS DOUBLE) AS n_src
      |  FROM agg)
      |SELECT source, n_docs, tok_sum,
      |       ROUND(tok_sum / total, 6) AS share,
      |       ROUND((total / n_src) / tok_sum, 4) AS up_weight
      |FROM agg CROSS JOIN tot ORDER BY source""".stripMargin

  val mixDuckSql: String =
    """WITH t AS (
      |  SELECT source,
      |         CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS toks
      |  FROM documents),
      |agg AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tok_sum
      |  FROM t GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(tok_sum) AS DOUBLE) AS total,
      |         CAST(COUNT(*) AS DOUBLE) AS n_src
      |  FROM agg)
      |SELECT source, n_docs, tok_sum,
      |       ROUND(tok_sum / total, 6) AS share,
      |       ROUND((total / n_src) / tok_sum, 4) AS up_weight
      |FROM agg CROSS JOIN tot ORDER BY source""".stripMargin

  // ---- budget-capped stratified sampling ----------------------------------

  /** Per-language document cap for `corpus_sample`. */
  val SampleCap = 100

  /** Deterministic stratified downsampling: keep at most `SampleCap` docs
    * per language, ranked by `md5(doc_id)` — the flatten-the-language-skew
    * sampler of a corpus pipeline, reproducible across engines and re-runs
    * (no RNG; appending docs never evicts previously-kept ones until the
    * cap binds on the new hash order).
    *
    * Scale note: rank-within-group is a per-language window — skewed at
    * 100 TB (one language dominates). The scale path keeps the same
    * semantics with a two-pass threshold: histogram the first hash byte
    * per language (tiny agg), pick the byte threshold bracketing the cap,
    * then rank only the boundary bucket. The exact-rank spelling here IS
    * the oracle contract; the threshold variant converges to it. */
  val sampleSparkSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang
       |             ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, lang FROM r WHERE rk <= $SampleCap
       |ORDER BY doc_id""".stripMargin

  val sampleDuckSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang
       |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, lang FROM r WHERE rk <= $SampleCap
       |ORDER BY doc_id""".stripMargin

  /** The REGISTERED two-pass threshold spelling [[sampleSparkSql]]'s
    * docstring promises — identical output (it shares
    * [[sampleDuckSql]] as its oracle), different plan. Honest scale
    * accounting: Spark 4's `InferWindowGroupLimit` already bounds the
    * exact spelling's EXCHANGE (≤ partitions·langs·cap rows ship), so
    * what this variant removes is the rewrite's remaining unbounded
    * cost — the full O(n log n) map-side sort of every input
    * partition that Partial WindowGroupLimit requires before it can
    * drop a single row (the `TopK` aggregator's argument, applied to
    * stratified sampling). Here the corpus-sized work is a map-side
    * filter against a broadcast byte threshold (no sort), and only
    * the boundary byte's bucket — ~1/256 of each language, md5's
    * first byte being uniform — is ranked. Locally it measures a
    * shade slower than the exact spelling (1.33 s vs 0.77 s at sf10:
    * two extra column-pruned scans vs a 500k-row sort that costs
    * little), the same parity trade the TopK docstring records; the
    * value is the removed per-partition sort at corpus scale. The
    * md5-hex lexicographic order the exact spelling ranks by IS
    * numeric order on the first byte, so below-threshold +
    * ranked-boundary is exactly the exact ranking's prefix. */
  val sampleScaledSparkSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, md5(CAST(doc_id AS STRING)) AS hx,
       |         CAST(CONV(SUBSTRING(md5(CAST(doc_id AS STRING)), 1, 2),
       |                   16, 10) AS BIGINT) AS hb
       |  FROM documents),
       |cumt AS (
       |  SELECT lang, hb, c,
       |         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY hb
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM (SELECT lang, hb, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM b GROUP BY lang, hb)),
       |sel AS (
       |  SELECT lang, MIN(hb) AS t FROM cumt
       |  WHERE cum >= $SampleCap GROUP BY lang),
       |base AS (
       |  SELECT c.lang, c.cum - c.c AS below
       |  FROM cumt c JOIN sel s ON c.lang = s.lang AND c.hb = s.t)
       |SELECT doc_id, lang FROM (
       |  SELECT /*+ BROADCAST(sel) */ b.doc_id, b.lang
       |  FROM b LEFT JOIN sel ON b.lang = sel.lang
       |  WHERE sel.t IS NULL OR b.hb < sel.t
       |  UNION ALL
       |  SELECT doc_id, lang FROM (
       |    SELECT /*+ BROADCAST(s, bs) */ b.doc_id, b.lang,
       |           row_number() OVER (PARTITION BY b.lang
       |               ORDER BY b.hx, b.doc_id) AS rk,
       |           bs.below
       |    FROM b JOIN sel s ON b.lang = s.lang AND b.hb = s.t
       |    JOIN base bs ON bs.lang = b.lang)
       |  WHERE rk <= $SampleCap - below)
       |ORDER BY doc_id""".stripMargin

  // ---- bigram-LM perplexity scoring ---------------------------------------

  /** Corpus-trained word-bigram LM perplexity per document — the
    * perplexity-filter quality signal (CCNet/Gopher shape: score each doc
    * under an LM trained on the corpus itself; outliers are boilerplate
    * or noise). Add-one smoothing over the emission vocabulary.
    *
    * Scale shape: the LM tables (`uni`, `bi`) are vocabulary-sized —
    * broadcast joins against the exploded bigram stream, which never
    * shuffles; the only wide exchange is the per-doc roll-up, with
    * map-side partial sums. Per-bigram log-probs are quantized to
    * integer micro-nats BEFORE summing, so the per-doc reduction is
    * exact integer arithmetic — engine- and order-independent (summing
    * raw doubles would drift with aggregation order at scale). */
  private def lmSql(bigramCtes: String): String =
    s"""$bigramCtes
       |uni AS (SELECT w1, COUNT(*) AS c1 FROM e GROUP BY w1),
       |bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM e GROUP BY w1, w2),
       |v AS (SELECT COUNT(*) AS vs FROM (SELECT DISTINCT w2 FROM e)),
       |s AS (
       |  SELECT e.doc_id,
       |         CAST(ROUND(ln((bi.c2 + 1.0) / (uni.c1 + v.vs)) * 1e6) AS BIGINT) AS lp
       |  FROM e JOIN bi ON e.w1 = bi.w1 AND e.w2 = bi.w2
       |         JOIN uni ON e.w1 = uni.w1 CROSS JOIN v)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |       CAST(-SUM(lp) AS BIGINT) AS nll_micro,
       |       ROUND(exp((CAST(-SUM(lp) AS DOUBLE) / 1e6) / COUNT(*)), 4) AS ppl
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Spark implementation of the LM scorer. The SQL spelling (the oracle)
    * references the exploded bigram stream from four CTEs — Catalyst has
    * no common-subplan materialization, so it would re-explode the corpus
    * four times. Here the stream is persisted once, the three LM
    * aggregates (each vocabulary-sized) derive from it, and the merged
    * log-prob table is broadcast back onto the stream: one corpus pass,
    * zero stream shuffles before the per-doc roll-up. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    val e = spark.sql(
      """SELECT doc_id, element_at(tok, p1) AS w1, element_at(tok, p1 + 1) AS w2
        |FROM (SELECT doc_id, tok
        |      FROM (SELECT doc_id, split(lower(trim(text)), '\\s+') AS tok
        |            FROM documents)
        |      WHERE size(tok) >= 2)
        |LATERAL VIEW posexplode(sequence(1, size(tok) - 1)) x AS idx, p1""".stripMargin)
      .persist()
    // (the persist is keyed by canonicalized plan in Spark's CacheManager,
    // so repeated calls share one cache entry — the standing-LM shape: the
    // bigram stream backs both training aggregates and the scoring pass)
    val vs = e.select(col("w2")).distinct().count()
    val uni = e.groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = e.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val lp = bi.join(uni, "w1")
      .select(col("w1"), col("w2"),
        expr(s"CAST(ROUND(ln((c2 + 1.0) / (c1 + $vs)) * 1e6) AS BIGINT)").as("lp"))
    e.join(broadcast(lp), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum("lp")).cast("bigint").as("nll_micro"),
        round(exp((-sum("lp")).cast("double") / 1e6 /
          count(lit(1))), 4).as("ppl"))
      .orderBy("doc_id")
  }

  val lmScoreSparkSql: String = lmSql(
    """WITH d AS (
      |  SELECT doc_id, split(lower(trim(text)), '\\s+') AS tok FROM documents),
      |bg AS (
      |  -- zip_with over two slices, NOT transform(sequence(1, n),
      |  -- i -> ..element_at(tok, i)..): the element_at form measured 8x
      |  -- slower at sf0.1 (6.2 s vs 0.8 s for the bigram aggregate)
      |  SELECT doc_id, zip_with(slice(tok, 1, size(tok) - 1),
      |                          slice(tok, 2, size(tok) - 1),
      |                          (a, b) -> struct(a AS w1, b AS w2)) AS bgs
      |  FROM d WHERE size(tok) >= 2),
      |e AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2
      |  FROM bg LATERAL VIEW explode(bgs) x AS b),""".stripMargin)

  val lmScoreDuckSql: String = lmSql(
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, [{'w1': tok[i], 'w2': tok[i + 1]}
      |                  for i in generate_series(1, len(tok) - 1)] AS bgs
      |  FROM d WHERE len(tok) >= 2),
      |e AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2
      |  FROM (SELECT doc_id, unnest(bgs) AS b FROM bg)),""".stripMargin)

  // ---- PMI collocation mining ---------------------------------------------

  /** Minimum pair frequency for a collocation candidate — PMI is
    * unstable for rare pairs (a hapax bigram of two hapax words gets
    * the maximum score), so mining always floors the pair count. */
  val PmiMinCount = 5

  /** Top-50 bigram collocations by pointwise mutual information —
    * the classic phrase-mining signal (Church & Hanks 1990): pairs
    * that co-occur far above unigram chance are names, idioms and
    * terms worth single-token treatment in a tokenizer vocabulary.
    * `PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) )` with bigram
    * probability over the bigram stream and unigram probabilities
    * over the token stream.
    *
    * Scale shape: bigrams and unigrams aggregate with map-side
    * partials; the surviving candidate pairs (>= [[PmiMinCount]],
    * vocabulary-bounded, corpus-size-independent) join the
    * vocabulary-sized unigram table — both broadcast-sized at any
    * corpus scale. Totals are scalar subqueries. Output is ordered by
    * the QUANTIZED score (`ln` micro-units as BIGINT — exact under any
    * evaluation order, the cross-engine-stable spelling) with a full
    * lexicographic tie-break, so the LIMIT boundary is deterministic. */
  private def pmiSql(tokensCte: String, bigramsCte: String): String =
    s"""$tokensCte
       |$bigramsCte
       |-- totals ride along as unpartitioned window sums over the
       |-- vocabulary-sized aggregates: Spark INLINES multiply-referenced
       |-- CTEs, so a separate `SELECT SUM(..) FROM u` scalar subquery
       |-- would re-run the corpus explode+aggregate per reference (a
       |-- measured 6x on this query); the window spelling evaluates each
       |-- aggregate exactly once. CAST tames duck's HUGEINT window SUM.
       |u0 AS (SELECT w, COUNT(*) AS c FROM tk GROUP BY w),
       |u AS (SELECT w, c, CAST(SUM(c) OVER () AS BIGINT) AS nu FROM u0),
       |p0 AS (SELECT w1, w2, COUNT(*) AS c12 FROM e GROUP BY w1, w2),
       |pa AS (SELECT w1, w2, c12,
       |              CAST(SUM(c12) OVER () AS BIGINT) AS nb FROM p0),
       |pair AS (SELECT * FROM pa WHERE c12 >= $PmiMinCount)
       |SELECT p.w1, p.w2, p.c12,
       |       CAST(ROUND(ln(
       |         (CAST(p.c12 AS DOUBLE) / p.nb) /
       |         ((CAST(u1.c AS DOUBLE) / u1.nu) *
       |          (CAST(u2.c AS DOUBLE) / u2.nu))) * 1e6)
       |         AS BIGINT) AS pmi_q
       |FROM pair p
       |JOIN u u1 ON p.w1 = u1.w
       |JOIN u u2 ON p.w2 = u2.w
       |ORDER BY pmi_q DESC, w1, w2 LIMIT 50""".stripMargin

  val pmiSparkSql: String = pmiSql(
    """WITH d AS (
      |  SELECT doc_id, split(lower(trim(text)), '\\s+') AS tok FROM documents),
      |tk AS (SELECT t.w FROM d LATERAL VIEW explode(tok) t AS w),""".stripMargin,
    """bg AS (
      |  SELECT zip_with(slice(tok, 1, size(tok) - 1),
      |                  slice(tok, 2, size(tok) - 1),
      |                  (a, b) -> struct(a AS w1, b AS w2)) AS bgs
      |  FROM d WHERE size(tok) >= 2),
      |e AS (SELECT b.w1 AS w1, b.w2 AS w2
      |      FROM bg LATERAL VIEW explode(bgs) x AS b),""".stripMargin)

  val pmiDuckSql: String = pmiSql(
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |tk AS (SELECT unnest(tok) AS w FROM d),""".stripMargin,
    """bg AS (
      |  SELECT [{'w1': tok[i], 'w2': tok[i + 1]}
      |          for i in generate_series(1, len(tok) - 1)] AS bgs
      |  FROM d WHERE len(tok) >= 2),
      |e AS (SELECT b.w1 AS w1, b.w2 AS w2
      |      FROM (SELECT unnest(bgs) AS b FROM bg)),""".stripMargin)

  // ---- cross-doc exact substring duplication ------------------------------

  /** Sliding-window width (tokens) for substring-duplication detection. */
  val SubstrK = 8

  /** Cross-document exact substring duplication (the exact-substring-
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): every token position opens a sliding
    * K-gram; a position is DUPLICATED if its K-gram occurs in at least
    * one other document; adjacent duplicated positions merge into
    * maximal repeated spans (gaps-and-islands). Emits per doc the
    * duplicated-position count, span count, and duplicated fraction —
    * the inputs to a span-cutting cleaner.
    *
    * Scale shape: positions explode map-side with codegen'd gram
    * hashing (no HOF lambdas); the gram-frequency table and the
    * position-join shuffle on the 64-bit gram hash (uniform,
    * fixed-width); span merging is a per-doc window over already
    * co-located rows. The oracle uses the string grams — the hashing is
    * oracle-checked hash-invariance, as everywhere else. */
  val substrDupSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, split(lower(trim(text)), '\\\\s+') AS tok FROM documents),
       |p AS (
       |  SELECT doc_id, p1 AS pos,
       |         xxhash64(concat_ws(' ', slice(tok, p1, $SubstrK))) AS g
       |  FROM t
       |  LATERAL VIEW posexplode(
       |    sequence(1, greatest(size(tok) - ${SubstrK - 1}, 1))) x AS idx, p1),
       |-- "appears in >= 2 docs" as MIN != MAX: same predicate, no
       |-- distinct-count expand in the aggregate
       |gd AS (SELECT g FROM p GROUP BY g HAVING MIN(doc_id) != MAX(doc_id)),
       |d AS (
       |  SELECT p.doc_id, p.pos,
       |         row_number() OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS rn
       |  FROM p JOIN gd ON p.g = gd.g),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_dup_pos,
       |         COUNT(DISTINCT pos - rn) AS n_spans
       |  FROM d GROUP BY doc_id),
       |tot AS (SELECT doc_id, COUNT(*) AS n_pos FROM p GROUP BY doc_id)
       |SELECT tot.doc_id,
       |  CAST(COALESCE(n_dup_pos, 0) AS BIGINT) AS n_dup_pos,
       |  CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       |  ROUND(COALESCE(n_dup_pos, 0) / CAST(n_pos AS DOUBLE), 4) AS dup_frac
       |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  val substrDupDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |p0 AS (
       |  SELECT doc_id,
       |         [{'pos': i, 'g': array_to_string(tok[i : i + ${SubstrK - 1}], ' ')}
       |          for i in generate_series(1, greatest(len(tok) - ${SubstrK - 1}, 1))]
       |           AS gs
       |  FROM t),
       |p AS (
       |  SELECT doc_id, s.pos AS pos, s.g AS g
       |  FROM (SELECT doc_id, unnest(gs) AS s FROM p0)),
       |-- "appears in >= 2 docs" as MIN != MAX: same predicate, no
       |-- distinct-count expand in the aggregate
       |gd AS (SELECT g FROM p GROUP BY g HAVING MIN(doc_id) != MAX(doc_id)),
       |d AS (
       |  SELECT p.doc_id, p.pos,
       |         row_number() OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS rn
       |  FROM p JOIN gd ON p.g = gd.g),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_dup_pos,
       |         COUNT(DISTINCT pos - rn) AS n_spans
       |  FROM d GROUP BY doc_id),
       |tot AS (SELECT doc_id, COUNT(*) AS n_pos FROM p GROUP BY doc_id)
       |SELECT tot.doc_id,
       |  CAST(COALESCE(n_dup_pos, 0) AS BIGINT) AS n_dup_pos,
       |  CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       |  ROUND(COALESCE(n_dup_pos, 0) / CAST(n_pos AS DOUBLE), 4) AS dup_frac
       |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  /** Pairwise Jensen-Shannon divergence of per-source token
    * distributions — the mixture-monitoring metric a training-data
    * pipeline tracks when sources are reweighted or a new crawl snapshot
    * lands (distribution shift between corpus components; bounded in
    * [0, ln 2]). Scale shape: the only corpus-sized work is ONE
    * (source, word) partial-agg shuffle; everything after operates on
    * vocabulary-sized tables (pairs x vocab, S^2·V rows with S in the
    * dozens) with the tiny pairs/totals sides broadcast. Hash-exact via
    * the lm_score pattern: each word's JS contribution is quantized to
    * integer nano-nats before the sum (fixed-order arithmetic inside
    * the term; ln bit-exact across JVM and duck libm on identical
    * doubles). */
  val jsDivergenceSparkSql: String =
    """WITH tok AS (
      |  SELECT source, explode(split(lower(trim(text)), '\\s+')) AS w
      |  FROM documents),
      |w AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w),
      |n AS (SELECT source, CAST(SUM(c) AS DOUBLE) AS n FROM w GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS s1, b.source AS s2
      |  FROM (SELECT DISTINCT source FROM documents) a
      |  JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source),
      |v AS (SELECT DISTINCT w FROM w),
      |joint AS (
      |  SELECT /*+ BROADCAST(p) */ p.s1, p.s2, v.w,
      |         COALESCE(w1.c, 0) AS c1, COALESCE(w2.c, 0) AS c2
      |  FROM pairs p
      |  CROSS JOIN v
      |  LEFT JOIN w w1 ON w1.source = p.s1 AND w1.w = v.w
      |  LEFT JOIN w w2 ON w2.source = p.s2 AND w2.w = v.w
      |  WHERE COALESCE(w1.c, 0) + COALESCE(w2.c, 0) > 0),
      |terms AS (
      |  SELECT /*+ BROADCAST(n1, n2) */ j.s1, j.s2,
      |    CAST(ROUND((
      |      CASE WHEN c1 > 0 THEN (c1 / n1.n)
      |        * LN((c1 / n1.n) / ((c1 / n1.n + c2 / n2.n) / 2)) ELSE 0.0 END
      |      + CASE WHEN c2 > 0 THEN (c2 / n2.n)
      |        * LN((c2 / n2.n) / ((c1 / n1.n + c2 / n2.n) / 2)) ELSE 0.0 END
      |    ) * 1e9) AS BIGINT) AS q
      |  FROM joint j
      |  JOIN n n1 ON n1.source = j.s1
      |  JOIN n n2 ON n2.source = j.s2)
      |SELECT s1, s2, ROUND(CAST(SUM(q) AS BIGINT) / 2e9, 6) AS js_div
      |FROM terms GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin

  val jsDivergenceDuckSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |w AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w),
      |n AS (SELECT source, CAST(SUM(c) AS DOUBLE) AS n FROM w GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS s1, b.source AS s2
      |  FROM (SELECT DISTINCT source FROM documents) a
      |  JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source),
      |v AS (SELECT DISTINCT w FROM w),
      |joint AS (
      |  SELECT p.s1, p.s2, v.w,
      |         COALESCE(w1.c, 0) AS c1, COALESCE(w2.c, 0) AS c2
      |  FROM pairs p
      |  CROSS JOIN v
      |  LEFT JOIN w w1 ON w1.source = p.s1 AND w1.w = v.w
      |  LEFT JOIN w w2 ON w2.source = p.s2 AND w2.w = v.w
      |  WHERE COALESCE(w1.c, 0) + COALESCE(w2.c, 0) > 0),
      |terms AS (
      |  SELECT j.s1, j.s2,
      |    CAST(ROUND((
      |      CASE WHEN c1 > 0 THEN (c1 / n1.n)
      |        * LN((c1 / n1.n) / ((c1 / n1.n + c2 / n2.n) / 2)) ELSE 0.0 END
      |      + CASE WHEN c2 > 0 THEN (c2 / n2.n)
      |        * LN((c2 / n2.n) / ((c1 / n1.n + c2 / n2.n) / 2)) ELSE 0.0 END
      |    ) * 1e9) AS BIGINT) AS q
      |  FROM joint j
      |  JOIN n n1 ON n1.source = j.s1
      |  JOIN n n2 ON n2.source = j.s2)
      |SELECT s1, s2, ROUND(CAST(SUM(q) AS BIGINT) / 2e9, 6) AS js_div
      |FROM terms GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin

  // ---- DSIR-style importance resampling ------------------------------------

  /** Data Selection via Importance Resampling (Xie et al. 2023 shape):
    * score every document by the log-likelihood ratio of a TARGET-domain
    * unigram LM (here: the `src0` slice plays the high-quality exemplar
    * set) against the RAW-corpus LM, both Laplace-smoothed over the raw
    * vocabulary, and keep the top-100 — the docs that look most like the
    * target distribution. The paper hashes n-gram features to a fixed
    * bucket count; over this corpus the word-TYPE table is Heaps-bounded
    * so raw unigrams stand in (at 100 TB you'd hash types to ~10k
    * buckets the same way, shrinking `lr` below broadcast size —
    * everything else is unchanged).
    *
    * Scale shape: two vocabulary-sized LM aggregations + one
    * vocabulary-sized ratio table joined onto per-doc term counts (AQE
    * broadcasts it), one per-doc sum, one global top-100. Per-TYPE log
    * ratios are integer-quantized (×1e9 → BIGINT) BEFORE the per-doc
    * weighted sum, so doc scores are exact integer arithmetic —
    * aggregation-order-proof and engine-exact (the js_divergence
    * pattern). */
  private def dsirSql(tok: String, sumQ: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, $tok AS w
       |  FROM documents),
       |tw AS (SELECT doc_id, MIN(source) AS source, w, COUNT(*) AS c
       |       FROM tok GROUP BY doc_id, w),
       |tgt AS (SELECT w, CAST(SUM(c) AS BIGINT) AS c FROM tw
       |        WHERE source = 'src0' GROUP BY w),
       |raw AS (SELECT w, CAST(SUM(c) AS BIGINT) AS c FROM tw GROUP BY w),
       |nt AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM tgt),
       |nr AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM raw),
       |v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM raw),
       |lr AS (
       |  SELECT raw.w,
       |    CAST(ROUND((
       |      LN((CAST(COALESCE(tgt.c, 0) AS DOUBLE) + 1) / (nt.n + v.nv))
       |      - LN((CAST(raw.c AS DOUBLE) + 1) / (nr.n + v.nv))) * 1e9)
       |      AS BIGINT) AS q
       |  FROM raw LEFT JOIN tgt ON raw.w = tgt.w
       |  CROSS JOIN nt CROSS JOIN nr CROSS JOIN v),
       |s AS (
       |  SELECT tw.doc_id, $sumQ AS q
       |  FROM tw JOIN lr ON tw.w = lr.w
       |  GROUP BY tw.doc_id)
       |SELECT doc_id, ROUND(q / 1e9, 6) AS weight
       |FROM s ORDER BY q DESC, doc_id LIMIT 100""".stripMargin

  val dsirSparkSql: String = dsirSql(
    "explode(split(lower(trim(text)), '\\\\s+'))",
    "SUM(tw.c * lr.q)")

  val dsirDuckSql: String = dsirSql(
    "unnest(string_split_regex(lower(trim(text)), '\\s+'))",
    "CAST(SUM(tw.c * lr.q) AS BIGINT)") // DuckDB BIGINT sums widen to HUGEINT

  // ---- per-domain cap (source-balance filter) -----------------------------

  /** Max documents kept per source domain — the Common-Crawl-style
    * source-balance rule (cap boilerplate-heavy domains so no single
    * host dominates the corpus mix). */
  val DomainCap = 16

  /** Per-domain document cap, spelled for skew: a domain-sized count
    * aggregate (map-side partials) is broadcast back twice — domains at
    * or under the cap keep ALL their docs through a broadcast semi-join
    * (no shuffle of the corpus, no window), and only the offending
    * oversized domains pay the per-domain `row_number` shuffle. At
    * 100 TB the window therefore sees only the capped tail (each such
    * domain emits at most `DomainCap` survivors), not the whole corpus —
    * the single-window spelling would funnel a billion-doc domain
    * through one partition. Keep order is deterministic (lowest doc_id
    * first). Output is a per-source summary with a kept-set checksum so
    * the oracle re-derives the kept SET, not just its size. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "source")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val smallKept = docs.join(
      broadcast(counts.where(col("n_docs") <= DomainCap).select("source")),
      "source")
    val bigKept = docs.join(
      broadcast(counts.where(col("n_docs") > DomainCap).select("source")),
      "source")
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")))
      .where(col("rn") <= DomainCap).drop("rn")
    val kept = smallKept.unionByName(bigKept)
      .groupBy("source").agg(count(lit(1)).as("n_kept"),
        sum("doc_id").as("kept_id_sum"))
    counts.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
      .orderBy("source")
  }

  val domainCapDuckSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, source,
       |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(CASE WHEN rn <= $DomainCap THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN rn <= $DomainCap THEN doc_id ELSE 0 END)
       |            AS BIGINT) AS kept_id_sum
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_domain_cap" -> ((s, d) => domainCap(s, d)),
    "corpus_dsir_sample" -> Tables.sql(dsirSparkSql),
    "corpus_pack" -> ((s, d) => pack(s, d)),
    "corpus_pack_bpe" -> ((s, d) => packBpe(s, d)),
    "corpus_shuffle" -> ((s, d) => shuffle(s, d)),
    "corpus_pack_shuffled" -> ((s, d) => packShuffled(s, d)),
    "text_pii" -> Tables.sql(piiSparkSql),
    "corpus_split" -> Tables.sql(splitSparkSql),
    "corpus_segment_dedup" -> Tables.sql(segmentDedupSparkSql),
    "corpus_segment_filter" -> Tables.sql(segmentFilterSparkSql),
    "corpus_bm25" -> Tables.sql(bm25SparkSql),
    "corpus_mix" -> Tables.sql(mixSparkSql),
    "corpus_sample" -> Tables.sql(sampleSparkSql),
    "corpus_sample_scaled" -> Tables.sql(sampleScaledSparkSql),
    "corpus_lm_score" -> ((s, d) => lmScore(s, d)),
    "corpus_substr_dup" -> Tables.sql(substrDupSparkSql),
    "corpus_js_divergence" -> Tables.sql(jsDivergenceSparkSql),
    "corpus_pmi" -> Tables.sql(pmiSparkSql)
  )

  val oracleSql: Map[String, String] = Map(
    "corpus_domain_cap" -> domainCapDuckSql,
    "corpus_dsir_sample" -> dsirDuckSql,
    "corpus_pack" -> packDuckSql,
    "corpus_pack_bpe" -> packBpeDuckSql,
    "corpus_shuffle" -> shuffleDuckSql,
    "corpus_pack_shuffled" -> packShuffledDuckSql,
    "text_pii" -> piiDuckSql,
    "corpus_split" -> splitDuckSql,
    "corpus_segment_dedup" -> segmentDedupDuckSql,
    "corpus_segment_filter" -> segmentFilterDuckSql,
    "corpus_bm25" -> bm25DuckSql,
    "corpus_mix" -> mixDuckSql,
    "corpus_sample" -> sampleDuckSql,
    "corpus_sample_scaled" -> sampleDuckSql,
    "corpus_lm_score" -> lmScoreDuckSql,
    "corpus_substr_dup" -> substrDupDuckSql,
    "corpus_js_divergence" -> jsDivergenceDuckSql,
    "corpus_pmi" -> pmiDuckSql
  )
}
