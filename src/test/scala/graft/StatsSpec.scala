package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the 100 TB scale path of the new round-4 stats/text operators
  * to their exact (oracle-checked) counterparts:
  *
  *  - `stats_quantiles` ships exact `percentile` for the oracle; at
  *    scale the same plan runs `approx_percentile` (Greenwald-Khanna,
  *    one pass, mergeable partials). The sketch must stay within its
  *    accuracy bound of the exact answer.
  *  - `text_heavy_hitters` must plan as top-k (TakeOrderedAndProject),
  *    never a global sort of the token table.
  *  - `text_tfidf`'s document-frequency side is vocabulary-sized and
  *    must broadcast — no shuffle of the TF table for the join.
  */
class StatsSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark
  private val sf = GraftSpark.sf

  test("approx_percentile tracks exact percentile within sketch accuracy") {
    Tables.register(spark, sf)
    val cols = Seq("o_totalprice")
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    for (c <- cols; p <- ps) {
      val exact = spark.sql(s"SELECT percentile($c, $p) FROM orders")
        .head().getDouble(0)
      // accuracy 10000 → rank error ≤ n/10000; at sf0.001 n≈1500 so the
      // sketch is effectively exact — assert the returned value's rank
      // neighborhood by value tolerance instead of equality
      val approx = spark.sql(
        s"SELECT approx_percentile($c, $p, 10000) FROM orders")
        .head().getDouble(0)
      val span = spark.sql(s"SELECT max($c) - min($c) FROM orders")
        .head().getDouble(0)
      assert(math.abs(approx - exact) <= span * 0.01,
        s"$c p$p: approx=$approx exact=$exact")
    }
  }

  test("hll sketches: every ndv within bound, union consistent with " +
    "re-estimating the merged sketch") {
    Tables.register(spark, sf)
    val rows = relational.Stats.hllDistinct(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(2) == 1L),
      rows.mkString("\n"))
    // the parquet round-trip must be lossless: union of reloaded
    // sketches == one-shot sketch over the raw column
    val direct = spark.sql(
      "SELECT hll_sketch_estimate(hll_sketch_agg(user_id, 14)) FROM events")
      .head().getLong(0)
    val merged = spark.sql(
      """SELECT hll_sketch_estimate(hll_union_agg(sk)) FROM (
        |  SELECT hll_sketch_agg(user_id, 14) AS sk
        |  FROM events GROUP BY event_type)""".stripMargin)
      .head().getLong(0)
    assert(direct == merged,
      s"sketch union ($merged) != direct sketch ($direct)")
  }

  test("heavy hitters plans as TakeOrderedAndProject, not global sort") {
    Tables.register(spark, sf)
    val df = spark.sql(text.TextAnalysis.heavyHittersSparkSql)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("tfidf broadcasts the document-frequency side") {
    Tables.register(spark, sf)
    val df = spark.sql(text.TextAnalysis.tfidfSparkSql)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("stopword_hits is count-exact with the four-lambda HOF spelling") {
    Tables.register(spark, sf)
    functions.VecFunctions.register(spark)
    import text.TextAnalysis.{en, de, fr, es}
    val mismatches = spark.sql(
      s"""WITH t AS (
         |  SELECT doc_id, split(lower(trim(text)), '\\\\s+') AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, stopword_hits(tok) AS sw,
         |    size(filter(tok, x -> array_contains(array($en), x))) AS s_en,
         |    size(filter(tok, x -> array_contains(array($de), x))) AS s_de,
         |    size(filter(tok, x -> array_contains(array($fr), x))) AS s_fr,
         |    size(filter(tok, x -> array_contains(array($es), x))) AS s_es
         |  FROM t)
         |SELECT * FROM c
         |WHERE sw[0] != s_en OR sw[1] != s_de OR sw[2] != s_fr OR sw[3] != s_es
         |""".stripMargin).count()
    assert(mismatches == 0)
  }

  test("stopword_hits: multi-language tokens count in every list; nulls in none") {
    functions.VecFunctions.register(spark)
    // 'que'/'un' are fr+es, 'the' is en-only, NULL and 'zzz' hit nothing
    val r = spark.sql(
      "SELECT stopword_hits(array('que', 'un', NULL, 'the', 'zzz')) AS sw")
      .head().getSeq[Long](0)
    assert(r == Seq(1L, 0L, 2L, 2L))
  }

  test("approx quantiles stay within tolerance of the exact plan") {
    import graft.relational.Stats
    val key = (r: org.apache.spark.sql.Row) => r.getString(0)
    val exact = Stats.queries("stats_quantiles")(spark, sf).collect()
      .map(r => key(r) -> (1 to 4).map(r.getDouble)).toMap
    val approx = Stats.queries("stats_quantiles_approx")(spark, sf).collect()
      .map(r => key(r) -> (1 to 4).map(r.getDouble)).toMap
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    for (k <- exact.keys; (e, a) <- exact(k).zip(approx(k)))
      assert(math.abs(a - e) <= math.max(0.05 * math.abs(e), 1.0),
        s"$k: approx $a vs exact $e")
  }

  test("binned gini/auc track the exact rank statistics within the " +
    "bin-mass bound, and their windows run over bin-sized inputs") {
    import graft.relational.Stats
    // tolerance: binning error is bounded by the largest bin's mass —
    // measured gaps at every SF are <= 0.002; 0.02 keeps 10x headroom
    // while still failing on any real formula defect
    val giniE = Stats.queries("stats_gini")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(3).toDouble).toMap
    val giniB = Stats.queries("stats_gini_binned")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4) / 1e9).toMap
    assert(giniE.keySet == giniB.keySet && giniE.nonEmpty)
    giniE.foreach { case (k, e) =>
      assert(math.abs(giniB(k) - e) <= 0.02, s"gini $k: ${giniB(k)} vs $e")
      // the trapezoid underestimates: binned <= exact (+ float fuzz)
      assert(giniB(k) <= e + 1e-6, s"gini $k: binned above exact")
    }
    val aucE = Stats.queries("stats_auc")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(3).toDouble).toMap
    val aucB = Stats.queries("stats_auc_binned")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4) / 1e9).toMap
    assert(aucE.keySet == aucB.keySet && aucE.nonEmpty)
    aucE.foreach { case (k, e) =>
      assert(math.abs(aucB(k) - e) <= 0.02, s"auc $k: ${aucB(k)} vs $e")
    }
    // scale contract: every window in the binned plans is partitioned
    // (per event_type) and fed by the bin histogram aggregate — the
    // row-sized rank sort of the exact spellings must not appear
    Seq("stats_gini_binned", "stats_auc_binned").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("No Partition Defined"), s"$name global window")
      // the Window's child must aggregate by (event_type, bin) first:
      // a Window directly over the events scan would be row-sized
      val winIdx = plan.indexOf("Window [")
      assert(winIdx >= 0, s"$name: no window in plan")
      val hashAggIdx = plan.indexOf("HashAggregate")
      assert(hashAggIdx >= 0 && plan.indexOf("bin", winIdx) >= 0,
        s"$name: window not over the bin histogram:\n$plan")
    }
  }

  test("binned median/MAD tracks the exact spelling within a bin width " +
    "and its plan carries no percentile buffer") {
    import graft.relational.Stats
    // exact: (med, mad) as DECIMAL strings, n_outliers BIGINT
    val exact = Stats.queries("stats_mad_outliers")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getString(2).toDouble,
        r.getString(3).toDouble, r.getLong(4)))).toMap
    val binned = Stats.queries("stats_mad_outliers_binned")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2) / 1e3, r.getLong(3) / 1e3,
        r.getLong(4)))).toMap
    assert(exact.keySet == binned.keySet && exact.nonEmpty)
    // in-Scala order statistics per type: the binned estimates are
    // bounded vs the LOWER-MEDIAN rank (same-bin theorem, one bin
    // width); the exact anchor interpolates between the two middle
    // ranks, so the anchor comparison composes bin width + half the
    // middle gap (at sf0.001's ~200 rows/type the gap dominates)
    val vals = graft.Tables.load(spark, sf, "events")
      .where(org.apache.spark.sql.functions.col("value").isNotNull)
      .selectExpr("event_type", "CAST(ROUND(value * 1e3) AS BIGINT) AS v")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    exact.foreach { case (k, (medE, madE, _)) =>
      val (medB, madB, outB) = binned(k)
      val vs = vals(k)
      val pos = (vs.length + 1) / 2
      val w = ((vs.last - vs.head + 1).toDouble / Stats.MadBins + 1) / 1e3
      val midGap =
        if (vs.length % 2 == 0) (vs(pos) - vs(pos - 1)) / 1e3 else 0.0
      assert(math.abs(medB - vs(pos - 1) / 1e3) <= w,
        s"$k med $medB vs rank ${vs(pos - 1) / 1e3} (w $w)")
      assert(math.abs(medB - medE) <= w + midGap / 2,
        s"$k med $medB vs anchor $medE (tol ${w + midGap / 2})")
      // MAD: deviations re-centered on the binned median; the query's
      // deviation bins span [0, dhi] with dhi = max(hi-med, med-lo)
      // derived from the value extents, so the bin width uses dhi, not
      // the observed deviation range; the anchor gap additionally
      // absorbs the center shift |medB - medE|
      val devs = vs.map(v => math.abs(v - math.round(medB * 1e3))).sorted
      val dhi = math.max(vs.last - math.round(medB * 1e3),
        math.round(medB * 1e3) - vs.head)
      val dw = ((dhi + 1).toDouble / Stats.MadBins + 1) / 1e3
      val dGap =
        if (devs.length % 2 == 0) (devs(pos) - devs(pos - 1)) / 1e3 else 0.0
      assert(math.abs(madB - devs(pos - 1) / 1e3) <= dw,
        s"$k mad $madB vs rank ${devs(pos - 1) / 1e3} (dw $dw)")
      assert(math.abs(madB - madE) <=
        dw + dGap / 2 + math.abs(medB - medE),
        s"$k mad $madB vs anchor $madE")
      // outlier pass is deterministic given the two estimates — exact
      val expOut = vs.count(v =>
        10000 * math.abs(v - math.round(medB * 1e3)) >
          44478 * math.round(madB * 1e3))
      assert(outB == expOut, s"$k outliers $outB vs model $expOut")
    }
    // scale contract: the binned plan must carry NO exact-percentile
    // aggregate (the O(distinct) buffer this spelling retires), no
    // global window, and its windows must sit over the bin histogram
    val plan = SparkEntry.queries("stats_mad_outliers_binned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percentile"), s"percentile buffer in plan")
    assert(!plan.contains("No Partition Defined"), "global window")
    val winIdx = plan.indexOf("Window [")
    assert(winIdx >= 0 && plan.indexOf("bin", winIdx) >= 0,
      s"window not over the bin histogram:\n$plan")
    // and the exact anchor DOES carry it (the contrast the twin exists
    // for — if this ever goes green-by-vacuity the anchor changed)
    val anchor = SparkEntry.queries("stats_mad_outliers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(anchor.contains("percentile"), "anchor lost its percentile")
  }

  test("portable CMS twin keeps the count-min guarantee (est >= exact)") {
    import graft.relational.Stats
    val rows = Stats.queries("text_cms_portable")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"token ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
    }
  }

  test("PSI drift: contributions recompute from bin counts; non-negative") {
    import graft.relational.Stats
    val rows = Stats.queries("stats_psi_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n1s = rows.map(_.getLong(1)); val n2s = rows.map(_.getLong(2))
    val (t1, t2) = (n1s.sum, n2s.sum)
    val b = Stats.KsBins
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < b)
      val p = (r.getLong(1) + 1).toDouble / (t1 + b)
      val q = (r.getLong(2) + 1).toDouble / (t2 + b)
      val expect = math.round((p - q) * math.log(p / q) * 1e6)
      assert(r.getLong(3) == expect, s"bin ${r.getLong(0)}")
      assert(r.getLong(3) >= 0)
    }
  }

  test("stream_drift: per-day PSI recomputes from the daily histograms") {
    import graft.streaming.StreamingOps
    val rows = StreamingOps.queries("stream_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    val b = graft.relational.Stats.KsBins
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= b, "n_bins within bin bound")
      assert(r.getLong(4) >= 0, "PSI non-negative")
    }
    // days are unique and ordered
    val days = rows.map(_.getDate(0).toString)
    assert(days.distinct.length == days.length && days.sorted.sameElements(days))
  }

  test("shingles3 skips null tokens like concat_ws (no NPE, user-reachable)") {
    functions.VecFunctions.register(spark)
    // < 3 tokens: whole-doc gram; concat_ws(' ', 'a', NULL) = 'a'
    val short = spark.sql(
      "SELECT shingles3(array('a', NULL))[0] = xxhash64('a') AS ok").head().getBoolean(0)
    assert(short)
    // >= 3 tokens: windows over original slots, nulls dropped per window
    val long = spark.sql(
      """SELECT shingles3(array('a', NULL, 'b', 'c')) AS sh,
        |       array(xxhash64('a b'), xxhash64('b c')) AS want""".stripMargin).head()
    assert(long.getSeq[Long](0) == long.getSeq[Long](1))
    // empty-string tokens are VALUES to concat_ws (separator still written):
    // concat_ws(' ', '', 'a', 'b') = ' a b', not 'a b'
    val empty = spark.sql(
      """SELECT shingles3(array('', 'a', 'b'))[0] = xxhash64(' a b') AS ok1,
        |       shingles3(array('a', ''))[0] = xxhash64('a ') AS ok2""".stripMargin).head()
    assert(empty.getBoolean(0) && empty.getBoolean(1))
  }

  test("count-min sketch: mass conserved per row, est >= exact always, " +
    "exact top-10 inside sketch top-20") {
    import org.apache.spark.sql.functions._
    Tables.register(spark, sf)
    val sketch = relational.Stats.tokenSketch(spark, sf)
    val nTokens = spark.sql(
      """SELECT SUM(size(split(lower(trim(text)), '\\s+')))
        |FROM documents""".stripMargin).head().getLong(0)
    // every token increments exactly one bucket per depth row
    for (d <- 0 until relational.Stats.CmsDepth) {
      val rowMass = sketch.slice(d * relational.Stats.CmsWidth,
        (d + 1) * relational.Stats.CmsWidth).sum
      assert(rowMass == nTokens, s"depth $d mass $rowMass != $nTokens")
    }
    // CMS never undercounts (deterministic invariant, not probabilistic)
    val top = relational.Stats.heavyHittersSketch(spark, sf).cache()
    assert(top.where(col("overcount") < 0).count() == 0)
    // exact heavy hitters must all surface among the sketch's top-20
    val exactTop = SparkEntry.queries("text_heavy_hitters")(spark, sf)
      .limit(10).select("w").collect().map(_.getString(0)).toSet
    val sketchTop = top.select("tok").collect().map(_.getString(0)).toSet
    assert(exactTop.subsetOf(sketchTop),
      s"missed hitters: ${exactTop -- sketchTop}")
    top.unpersist(false)
  }

  test("streaming CMS merges to the batch sketch's exact answers") {
    Tables.register(spark, sf)
    // microbatch-merged sketch and one-pass batch sketch must produce
    // identical top-20 rows (merge associativity — the property that
    // makes heavy-hitter monitoring stream-able with O(sketch) state)
    val streamed = streaming.StreamingOps.queries(
      "stream_heavy_hitters")(spark, sf).collect().toSeq
    val batch = relational.Stats.heavyHittersSketch(spark, sf)
      .collect().toSeq
    assert(streamed == batch, "streamed sketch diverged from batch sketch")
  }

  test("langid_segments: frac bounds, counts consistent, agrees with " +
    "whole-doc langid on single-language docs") {
    import org.apache.spark.sql.functions._
    Tables.register(spark, sf)
    val seg = SparkEntry.queries("text_langid_segments")(spark, sf).cache()
    assert(seg.where(col("dom_cnt") > col("n_seg")).count() == 0)
    assert(seg.where(col("dom_frac") <= 0 || col("dom_frac") > 1).count() == 0)
    // is_mixed <=> dominant share < 1 <=> more than one language seen
    assert(seg.where((col("is_mixed") === 1) =!=
      (col("n_langs") > 1)).count() == 0)
    // a doc whose every segment voted one language must get the same
    // verdict from the whole-doc argmax ONLY when that language is the
    // whole doc's too — sanity: pure docs dominate the corpus, and for
    // them the two operators must agree
    val whole = SparkEntry.queries("text_langid")(spark, sf)
      .select(col("doc_id"), col("pred"))
    val pure = seg.where(col("n_langs") === 1).join(whole, "doc_id")
    assert(pure.count() > 0, "no single-language docs — corpus degenerate")
    val agree = pure.where(col("dom_lang") === col("pred")).count().toDouble /
      pure.count()
    assert(agree > 0.9,
      s"segment-level and whole-doc language ID agree on only $agree")
    seg.unpersist(false)
  }

  test("token entropy is in [0, ln(n_types)] and ttr in (0,1]") {
    Tables.register(spark, sf)
    val rows = spark.sql(text.TextAnalysis.entropySparkSql).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val types = r.getLong(2); val ttr = r.getDouble(3); val h = r.getDouble(4)
      assert(ttr > 0.0 && ttr <= 1.0)
      // uniform distribution over n_types maximizes entropy at
      // ln(n_types); +5e-5 covers the query's 4-digit output rounding
      assert(h >= 0.0 && h <= math.log(types.toDouble) + 5e-5,
        s"doc ${r.getLong(0)}: H=$h types=$types")
    }
  }

  test("JS divergence is within [0, ln 2] over all source pairs") {
    Tables.register(spark, sf)
    val rows = spark.sql(text.Corpus.jsDivergenceSparkSql).collect()
    assert(rows.nonEmpty)
    val nSrc = spark.sql("SELECT COUNT(DISTINCT source) FROM documents")
      .head().getLong(0).toInt
    assert(rows.length == nSrc * (nSrc - 1) / 2) // each unordered pair once
    rows.foreach { r =>
      val js = r.getDouble(2)
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9,
        s"(${r.getString(0)},${r.getString(1)}): $js")
    }
  }

  test("repetition fractions are in [0,1] and detect a repeated doc") {
    Tables.register(spark, sf)
    val rows = spark.sql(text.TextAnalysis.repetitionSparkSql).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d2 = r.getDouble(1); val d3 = r.getDouble(2)
      assert(d2 >= 0.0 && d2 <= 1.0 && d3 >= 0.0 && d3 <= 1.0)
      // duplicate 3-grams imply duplicate 2-grams on this corpus shape:
      // a repeated trigram contains two repeated bigrams
      if (d3 > 0) assert(d2 > 0)
    }
  }
}
