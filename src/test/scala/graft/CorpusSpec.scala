package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the round-4 corpus/relational additions:
  *
  *  - `corpus_pack`'s two-phase distributed scan must equal the naive
  *    single-window prefix sum (the oracle spelling), while actually
  *    running over multiple range partitions.
  *  - `text_pii` must be non-vacuous (digit runs exist in the corpus).
  *  - `q31_sliding_window`: length/slide = 2 ⇒ every event is counted in
  *    exactly two windows.
  *  - `q33_upsert`: merged cardinality = base + new keys; updated keys
  *    keep their bumped price.
  *  - `mm_audio_features` / `embed_quantize` bounds sanity.
  */
class CorpusSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark
  private val sf = GraftSpark.sf

  test("corpus_pack: distributed scan equals single-window prefix sum") {
    val got = text.Corpus.pack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // naive spelling: one global window (what the DuckDB oracle runs)
    Tables.register(spark, sf)
    val naive = spark.sql(
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks,
         |         COALESCE(SUM(toks) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM t)
         |SELECT CAST(bef DIV ${text.Corpus.ShardBudget} AS BIGINT) AS shard_id,
         |       COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tok_sum
         |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == naive)
    assert(got.size > 1, "budget too large: packing produced a single shard")
  }

  test("corpus_sample_scaled: threshold spelling equals the exact rank, " +
    "boundary window only, broadcast thresholds") {
    val exact = Tables.sql(text.Corpus.sampleSparkSql)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val scaled = Tables.sql(text.Corpus.sampleScaledSparkSql)(spark, sf)
    val got = scaled.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == exact)
    assert(got.nonEmpty)
    // both sides of the cap must be exercised: some language at the cap
    // (threshold path live) and the keep-all LEFT-JOIN path non-vacuous
    val byLang = exact.groupBy(_._2).view.mapValues(_.size)
    assert(byLang.values.exists(_ == text.Corpus.SampleCap),
      "no language hits the cap — threshold branch untested")
    // plan: thresholds broadcast, no sort-merge join, and the rank
    // window sits behind the boundary-bucket join (its input carries
    // the threshold join, never the bare documents scan)
    val plan = scaled.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"sort-merge join:\n$plan")
    assert(!plan.contains("No Partition Defined"), "global window")
  }

  test("corpus_shuffle: distributed rank equals single-window row_number " +
    "and permutes (not identity)") {
    val got = text.Corpus.shuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Tables.register(spark, sf)
    val naive = spark.sql(
      """SELECT doc_id,
        |       row_number() OVER (ORDER BY md5(CAST(doc_id AS STRING)),
        |                          doc_id) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq
    assert(got == naive)
    // a permutation: bijective over 1..n, and not the identity order
    // (identity = pos equals the doc's rank in ascending doc_id order,
    // regardless of what base the fixture's doc_ids start at)
    val n = got.size.toLong
    assert(got.map(_._2).sorted == (1L to n))
    val rankById = got.map(_._1).sorted.zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    assert(got.count { case (id, pos) => pos == rankById(id) } < n / 2,
      "shuffle left most docs in corpus order")
  }

  test("corpus_pack_bpe: distributed scan equals a window over encode counts") {
    val got = text.Corpus.packBpe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val naive = text.Bpe.queries("corpus_bpe_encode")(spark, sf)
      .select(col("doc_id"), col("n_bpe_tokens").as("toks"))
      .withColumn("bef", coalesce(sum("toks").over(w), lit(0L)))
      .withColumn("shard_id", (col("bef") / text.Corpus.ShardBudget)
        .cast("long"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tok_sum"))
      .orderBy("shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == naive)
    assert(got.size > 1)
    // BPE packing must differ from whitespace packing (fertility > 1)
    val ws = text.Corpus.pack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._3).sum > ws.map(_._3).sum,
      "BPE token totals should exceed whitespace token totals")
  }

  test("corpus_pack_shuffled conserves docs and tokens vs corpus_pack") {
    val packed = text.Corpus.pack(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (n_docs, tok_sum)
    val shuffled = text.Corpus.packShuffled(spark, sf).collect()
    // same corpus, different order: totals conserved, budgets respected
    assert(shuffled.map(_.getLong(1)).sum == packed.map(_._1).sum)
    assert(shuffled.map(_.getLong(2)).sum == packed.map(_._2).sum)
    assert(shuffled.length > 1)
    // manifests are non-degenerate and distinct per shard
    val manifests = shuffled.map(_.getString(3))
    assert(manifests.distinct.length == manifests.length)
    // shard membership actually differs from the unshuffled packing
    // (the permutation must reach the shard composition)
    assert(shuffled.map(r => (r.getLong(1), r.getLong(2))).toSeq !=
      packed.toSeq)
  }

  test("text_pii redacts the injected contact line in every document") {
    val df = text.Corpus.queries("text_pii")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 1, s"doc ${r.getLong(0)}: email not matched")
      assert(r.getLong(2) >= 1, s"doc ${r.getLong(0)}: digit run not matched")
    }
  }

  test("q31 sliding window counts every event exactly twice") {
    Tables.register(spark, sf)
    val events = spark.table("events").count()
    val windowed = relational.Relational.queries("q31_sliding_window")(spark, sf)
      .agg(sum("n")).head().getLong(0)
    assert(windowed == 2 * events, s"$windowed != 2*$events")
  }

  test("q33 upsert: merged cardinality and updated prices") {
    Tables.register(spark, sf)
    val base = spark.table("orders")
    val nBase = base.count()
    val nNew = base.where("o_orderkey % 97 = 0").count()
    val merged = relational.Relational.queries("q33_upsert")(spark, sf)
    assert(merged.agg(sum("n")).head().getLong(0) == nBase + nNew)
    // bucket sums must reflect the 10% price bump on keys ≡ 3 (mod 10):
    // recompute one bucket's expected total directly
    val bump = base.where("o_orderkey % 10 = 3")
      .select(round(col("o_totalprice") * 1.1, 2).as("p"),
        (col("o_orderkey") % 7).as("bucket"))
    val keep = base.where("o_orderkey % 10 != 3")
      .select(col("o_totalprice").as("p"), (col("o_orderkey") % 7).as("bucket"))
    val nw = base.where("o_orderkey % 97 = 0")
      .select(col("o_totalprice").as("p"),
        ((col("o_orderkey") + 10000000L) % 7).as("bucket"))
    val expected = bump.unionByName(keep).unionByName(nw)
      .groupBy("bucket").agg(round(sum("p"), 2).as("tot"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    merged.collect().foreach { r =>
      assert(math.abs(r.getDouble(2) - expected(r.getLong(0))) < 1e-6,
        s"bucket ${r.getLong(0)}")
    }
  }

  test("q33 upsert plan broadcasts the update keys — base side never shuffles") {
    Tables.register(spark, sf)
    val plan = relational.Relational.queries("q33_upsert")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"anti-join did not broadcast:\n$plan")
  }

  test("corpus_domain_cap: oversized domains truncate to the cap, small keep all") {
    import spark.implicits._
    import graft.text.Corpus
    // skewed fixture through the real two-arm path: one 300-doc domain,
    // one at the cap boundary, one tiny
    val docs = ((0 until 300).map(i => (i.toLong, s"t$i", "en", "big", 1L)) ++
      (300 until 300 + Corpus.DomainCap).map(i => (i.toLong, s"t$i", "en", "edge", 1L)) ++
      Seq((900L, "t900", "en", "tiny", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_domcap").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Corpus.domainCap(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("big") == ((300L, Corpus.DomainCap.toLong,
      (0 until Corpus.DomainCap).map(_.toLong).sum)))
    assert(out("edge") == ((Corpus.DomainCap.toLong, Corpus.DomainCap.toLong,
      (300 until 300 + Corpus.DomainCap).map(_.toLong).sum)))
    assert(out("tiny") == ((1L, 1L, 900L)))
    // scale shape: the corpus joins the domain lists via broadcast
    val plan = Corpus.domainCap(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "domain lists should broadcast")
  }

  test("corpus_split partitions every doc once, near the 12/2/2 nibble split") {
    Tables.register(spark, sf)
    val nDocs = spark.table("documents").count()
    val split = text.Corpus.queries("corpus_split")(spark, sf).cache()
    assert(split.count() == nDocs)
    assert(split.select("doc_id").distinct().count() == nDocs)
    val byName = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    // md5 nibbles are uniform: expect 75% / 12.5% / 12.5% (loose bounds)
    val train = byName("train").toDouble / nDocs
    assert(train > 0.65 && train < 0.85, s"train share $train")
    split.unpersist(false)
  }

  test("corpus_segment_dedup keeps exactly the distinct segments, non-vacuously") {
    Tables.register(spark, sf)
    val out = text.Corpus.queries("corpus_segment_dedup")(spark, sf).cache()
    val kept = out.agg(sum("n_kept")).head().getLong(0)
    // globally-first-occurrence dedup keeps one instance per distinct segment
    val distinctSegs = spark.sql(
      s"""SELECT COUNT(DISTINCT seg) FROM (
         |  SELECT s.seg FROM (
         |    SELECT split(lower(trim(text)), '\\\\s+') AS tok FROM documents)
         |  LATERAL VIEW posexplode(
         |    transform(sequence(0, CAST(ceil(size(tok) / ${text.Corpus.SegTokens}.0) AS INT) - 1),
         |      i -> concat_ws(' ', slice(tok, i * ${text.Corpus.SegTokens} + 1,
         |        ${text.Corpus.SegTokens})))) s AS pos, seg)""".stripMargin)
      .head().getLong(0)
    assert(kept == distinctSegs, s"kept $kept != distinct segments $distinctSegs")
    // the corpus has near-dup docs, so some doc must lose segments
    assert(out.where(col("n_kept") < col("n_seg")).count() > 0,
      "dedup was vacuous: no document lost a segment")
    // the first doc can never lose its first-occurrence segments all at once:
    // doc 0's segments are all first occurrences
    val d0 = out.where(col("doc_id") === 0).head()
    assert(d0.getLong(1) == d0.getLong(2), "doc 0 lost a segment")
    out.unpersist(false)
  }

  test("corpus_segment_filter drops every occurrence of cross-doc segments") {
    Tables.register(spark, sf)
    val out = text.Corpus.queries("corpus_segment_filter")(spark, sf).cache()
    val dedup = text.Corpus.queries("corpus_segment_dedup")(spark, sf)
      .select(col("doc_id"), col("n_kept").as("dedup_kept")).cache()
    // filter is strictly stronger than dedup: dedup keeps ONE instance
    // of each cross-doc segment, filter keeps NONE
    val j = out.join(dedup, "doc_id").cache()
    assert(j.where(col("n_kept") > col("dedup_kept")).count() == 0,
      "filter kept a segment dedup dropped")
    // non-vacuous both ways: some doc loses segments, some keeps all
    assert(out.where(col("n_kept") < col("n_seg")).count() > 0,
      "filter was vacuous: no cross-doc boilerplate found")
    assert(out.where(col("n_kept") === col("n_seg")).count() > 0,
      "every document lost a segment — corpus cannot be all boilerplate")
    // a fully-duplicated doc's segments are cross-doc by definition: its
    // filtered count must be 0 while dedup kept them once globally
    // (exact dups may be absent at the smallest scale factors)
    val dupRow = spark.sql(
      """SELECT min(doc_id) AS d FROM (
        |  SELECT md5(text) AS h, min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(text) HAVING COUNT(*) > 1)""".stripMargin).head()
    if (!dupRow.isNullAt(0)) {
      val dupDoc = dupRow.getLong(0)
      assert(out.where(col("doc_id") === dupDoc).head().getLong(2) == 0,
        s"duplicated doc $dupDoc retained segments through the filter")
    }
    j.unpersist(false); dedup.unpersist(false); out.unpersist(false)
  }

  test("corpus_bm25 scores are finite, non-negative, non-vacuous") {
    val out = text.Corpus.queries("corpus_bm25")(spark, sf).cache()
    assert(out.where(col("bm25") < 0 || isnan(col("bm25"))).count() == 0)
    assert(out.where(col("bm25") > 0).count() > 0)
    // idf of ln(1+x) form is bounded by ln((N+0.5)/0.5+1); with tf
    // saturation the per-term cap is idf*(k1+1)
    out.unpersist(false)
  }

  test("corpus_mix shares sum to 1 and weights invert the shares") {
    val rows = text.Corpus.queries("corpus_mix")(spark, sf).collect()
    assert(rows.length > 1)
    val shares = rows.map(_.getDouble(3))
    assert(math.abs(shares.sum - 1.0) < 1e-3, s"share sum ${shares.sum}")
    val nSrc = rows.length.toDouble
    rows.foreach { r =>
      val share = r.getDouble(3); val w = r.getDouble(4)
      // w * share ≈ uniform target share (both are rounded independently)
      assert(math.abs(w * share - 1.0 / nSrc) < 1e-3,
        s"source ${r.getString(0)}: w*share=${w * share}")
    }
  }

  test("corpus_sample caps every language at SampleCap, deterministically") {
    Tables.register(spark, sf)
    val out = text.Corpus.queries("corpus_sample")(spark, sf).cache()
    val perLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = spark.table("documents").groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (lang, n) =>
      assert(perLang(lang) == math.min(n, text.Corpus.SampleCap.toLong),
        s"$lang: ${perLang(lang)} of $n")
    }
    // deterministic: a rerun keeps the identical doc set
    val again = text.Corpus.queries("corpus_sample")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == again)
    out.unpersist(false)
  }

  test("corpus_lm_score: LM tables broadcast; common text beats shuffled text") {
    Tables.register(spark, sf)
    val out = text.Corpus.queries("corpus_lm_score")(spark, sf).cache()
    // vocabulary-sized LM tables must come in as broadcast joins — the
    // bigram stream itself may never shuffle through a SortMergeJoin
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"LM join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "bigram stream shuffled through SMJ")
    // sanity: every scored doc has >= 1 bigram and positive perplexity
    assert(out.where(col("n_bigrams") < 1 || col("ppl") <= 0).count() == 0)
    // the smoothed bigram LM's perplexity is bounded by the smoothed-
    // uniform ceiling (~vocab size); training on the corpus itself must
    // pull the median strictly below it (near-uniform token salad sits
    // just under the ceiling, real-text corpora far under)
    val vocab = spark.sql(
      "SELECT COUNT(DISTINCT w) FROM (SELECT explode(split(lower(trim(text)), " +
        "'\\\\s+')) AS w FROM documents)").head().getLong(0)
    // (no hard max bound: an unseen bigram after a frequent word scores
    // 1/(c1+V), so worst-case ppl is max_c1+V, corpus-dependent — exact
    // values are pinned by the DuckDB oracle, not re-derived here)
    val medPpl = out.agg(expr("percentile_approx(ppl, 0.5)")).head().getDouble(0)
    assert(medPpl < vocab, s"median ppl $medPpl vs vocab $vocab")
    assert(out.where(col("ppl") < 1.0).count() == 0, "perplexity below 1")
    out.unpersist(false)
  }

  test("corpus_substr_dup: spans bound positions, duplication is mutual") {
    Tables.register(spark, sf)
    val out = text.Corpus.queries("corpus_substr_dup")(spark, sf).cache()
    assert(out.count() == spark.table("documents").count())
    assert(out.where(col("n_dup_pos") < col("n_spans")).count() == 0,
      "a span must cover at least one position")
    assert(out.where((col("n_spans") === 0) =!= (col("n_dup_pos") === 0))
      .count() == 0, "spans and positions must vanish together")
    assert(out.where(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
    val withSpans = out.where(col("n_spans") > 0).count()
    assert(withSpans >= 2,
      s"cross-doc duplication is mutual: got $withSpans docs with spans")
    out.unpersist(false)
  }

  test("q36 retention: day-0 cells cover every user exactly once") {
    Tables.register(spark, sf)
    val out = relational.Relational.queries("q36_retention_cohort")(spark, sf)
      .cache()
    val day0 = out.where(col("day_offset") === 0)
      .agg(sum("n_users")).head().getLong(0)
    val users = spark.table("events").select("user_id").distinct().count()
    assert(day0 == users, s"day-0 total $day0 != $users users")
    // retention is monotone per cohort at offset 0: no cell exceeds its
    // cohort's size
    val over = out.as("o").join(
      out.where(col("day_offset") === 0)
        .select(col("cohort").as("c0"), col("n_users").as("size0")),
      col("o.cohort") === col("c0"))
      .where(col("o.n_users") > col("size0")).count()
    assert(over == 0, "a retention cell exceeded its cohort size")
    out.unpersist(false)
  }

  test("embed_label_centroids covers labels x dims with per-label counts") {
    Tables.register(spark, sf)
    val out = similarity.Similarity.queries("embed_label_centroids")(spark, sf)
      .cache()
    val emb = spark.table("embeddings")
    val dims = emb.selectExpr("size(embedding)").head().getInt(0)
    val labels = emb.select("label").distinct().count()
    assert(out.count() == labels * dims)
    val perLabel = emb.groupBy("label").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    out.collect().foreach { r =>
      assert(r.getLong(2) == perLabel(r.getAs[Number](0).longValue),
        s"label ${r.get(0)} dim ${r.getLong(1)}: n mismatch")
    }
    out.unpersist(false)
  }

  test("embed_outliers covers every vector; flags split non-vacuously") {
    Tables.register(spark, sf)
    val out = similarity.Similarity.queries("embed_outliers")(spark, sf).cache()
    assert(out.count() == spark.table("embeddings").count())
    assert(out.where(col("dist2") <= 0).count() == 0, "degenerate distance")
    val flagged = out.where(col("is_outlier") === 1).count()
    assert(flagged > 0 && flagged < out.count(),
      s"outlier flag vacuous: $flagged of ${out.count()}")
    // flagged vectors are strictly farther than at least one unflagged
    // vector of the same label (threshold is per-label)
    val worstKept = out.where(col("is_outlier") === 0)
      .groupBy("label").agg(max("dist2").as("kept_max"))
    val bestFlagged = out.where(col("is_outlier") === 1)
      .groupBy("label").agg(min("dist2").as("flag_min"))
    val inverted = worstKept.join(bestFlagged, "label")
      .where(col("flag_min") <= col("kept_max")).count()
    assert(inverted == 0, "a flagged vector was closer than a kept one")
    out.unpersist(false)
  }

  test("embed_quantize values stay in int8 range") {
    val rows = similarity.Similarity.queries("embed_quantize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= -128 && r.getLong(1) <= 127, "q_min")
      assert(r.getLong(2) >= -127 && r.getLong(2) <= 127, "q_max")
      // max-|x| element quantizes to exactly ±127
      assert(r.getLong(2) == 127 || r.getLong(1) == -127,
        s"vec ${r.getLong(0)}: no element at full scale")
    }
  }
}
