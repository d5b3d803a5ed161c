package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Properties of the approximate dedup/similarity operators that the
  * DuckDB oracle can't check (they use engine-internal hashing).
  */
class DedupSpec extends AnyFunSuite {
  import GraftSpark.{spark, sf}

  /** Ground truth: all pairs with exact word-3-gram Jaccard >= thr,
    * brute-forced over the (small) test corpus. */
  private def exactPairs(thr: Double): Set[(Long, Long)] = {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), {
        val w = r.getString(1).toLowerCase.trim.split("\\s+")
        if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
        else Set(w.mkString(" "))
      }))
    (for {
      (ia, sa) <- docs.iterator
      (ib, sb) <- docs.iterator if ia < ib
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= thr
    } yield (ia, ib)).toSet
  }

  test("minhash LSH finds every strongly-near-dup pair (recall @ J>=0.9)") {
    val truth = exactPairs(0.9)
    assert(truth.nonEmpty, "test corpus must contain planted near-dups")
    val found = dedup.Dedup.minhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(found),
      s"missed pairs: ${truth -- found}")
  }

  test("minhash LSH output is precise (every pair verifies at J>=0.7)") {
    val bad = dedup.Dedup.minhash(spark, sf)
      .where(col("jaccard") < dedup.Dedup.JaccardThreshold).count()
    assert(bad == 0)
  }

  test("simhash candidate generation is exhaustive for hamming <= threshold") {
    // The operator guarantee is pigeonhole completeness: every pair whose
    // 64-bit signatures differ by <= HammingThreshold bits MUST be output
    // (how often J~0.95 implies that is simhash statistics, not our code).
    val found = dedup.Dedup.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    assert(found.forall(_._3 <= dedup.Dedup.HammingThreshold))
    // brute-force ground truth over signatures derived from identical logic
    val sigRows = dedup.Dedup.signatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ia, sa) <- sigRows.iterator
      (ib, sb) <- sigRows.iterator if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= dedup.Dedup.HammingThreshold
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "corpus should contain simhash-close pairs")
    val foundPairs = found.map(t => (t._1, t._2)).toSet
    assert(truth == foundPairs,
      s"missed: ${truth -- foundPairs}; extra: ${foundPairs -- truth}")
  }

  test("exact dedup groups agree with distinct text count") {
    val docs = Tables.load(spark, sf, "documents")
    val distinctTexts = docs.select("text").distinct().count()
    val groups = dedup.Dedup.queries("dedup_exact")(spark, sf).count()
    assert(groups == distinctTexts)
  }

  test("LSH top-k has reasonable recall vs brute force") {
    Tables.register(spark, sf)
    functions.VecFunctions.register(spark)
    val exact = spark.sql(similarity.Similarity.bruteforceSparkSql)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = similarity.Similarity.lshTopK(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH top-k recall@${similarity.Similarity.K} = $recall")
    assert(recall >= 0.3, s"recall $recall too low")
  }

  test("LSH 16-bit scale config recalls planted near-dups with sublinear candidates") {
    // The 100 TB parameterization (chunkBits=16: 4 bands of 16 bits +
    // hamming-1 multiprobe) on the workload LSH exists for: a corpus with
    // genuine high-cosine near-dups. Every planted dup must surface while
    // the candidate set stays a small fraction of the corpus — THE property
    // that makes the join sublinear at scale.
    import spark.implicits._
    val r = new scala.util.Random(123)
    val dim = 64
    val n = 400
    val base = Array.fill(n)(Array.fill(dim)(r.nextGaussian().toFloat))
    // vec_id < 10 are the queries: tiny perturbations of vectors 10..19
    for (i <- 0 until 10; j <- 0 until dim)
      base(i)(j) = base(10 + i)(j) + 0.05f * r.nextGaussian().toFloat
    val emb = base.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("vec_id", "embedding")
    functions.VecFunctions.register(spark)
    val cand = similarity.Similarity.candidatePairs(emb, chunkBits = 16)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    for (i <- 0 until 10)
      assert(cand.contains((i.toLong, (10 + i).toLong)),
        s"query $i missed its planted near-dup ${10 + i}")
    val avgCand = cand.size.toDouble / 10
    info(s"avg candidates/query = $avgCand of n=$n")
    assert(avgCand < 0.1 * n,
      s"candidate sets not sublinear: $avgCand of $n per query")
  }

  test("semantic dedup: min-id exemplar kept per cell, cap guard honored") {
    import spark.implicits._
    functions.VecFunctions.register(spark)
    // planted cells: cell 0 holds a tight trio (0,1,2) + an orthogonal
    // loner (3); cell 1 holds an identical pair (10,11); cell 2 exceeds
    // MaxBucket with identical vectors — the skew guard must skip it
    val tight = Array(1f, 0f, 0f, 0f)
    val ortho = Array(0f, 1f, 0f, 0f)
    val big = (100 until 100 + graft.dedup.Dedup.MaxBucket + 1)
      .map(i => (i.toLong, Array(0f, 0f, 1f, 0f), 2))
    // cell 3 pins dup_cos = cosine TO the exemplar, not max over pairs:
    // cos(20,22)=0.92 but cos(21,22)~0.99 — 22's verdict must carry 0.92
    val rows = Seq(
      (0L, tight, 0), (1L, tight, 0), (2L, tight, 0), (3L, ortho, 0),
      (10L, Array(0f, 0f, 0f, 1f), 1), (11L, Array(0f, 0f, 0f, 1f), 1),
      (20L, Array(1f, 0f, 0f, 0f), 3),
      (21L, Array(0.966f, 0.2588f, 0f, 0f), 3),
      (22L, Array(0.92f, 0.3919f, 0f, 0f), 3)
    ) ++ big
    val assigned = rows.toDF("vec_id", "embedding", "cell")
    val out = similarity.Similarity.semanticDedupFrom(assigned, 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out.size == rows.size) // every vector verdicted exactly once
    // trio: 0 kept, 1 and 2 dropped pointing at 0; orthogonal loner kept
    assert(out(0L) == (1L, -1L) && out(3L) == (1L, -1L))
    assert(out(1L) == (0L, 0L) && out(2L) == (0L, 0L))
    // pair: min id kept
    assert(out(10L) == (1L, -1L) && out(11L) == (0L, 10L))
    // cell 3: 21 and 22 both drop to exemplar 20; 22's dup_cos is the
    // cosine to 20 (~0.92), NOT the larger cos(21,22) (~0.99)
    assert(out(21L) == (0L, 20L) && out(22L) == (0L, 20L))
    val cos22 = similarity.Similarity.semanticDedupFrom(assigned, 0.9)
      .where("vec_id = 22").head().getDouble(4)
    assert(math.abs(cos22 - 0.92) < 0.005, s"dup_cos of 22 was $cos22")
    // oversized cell: guard skips it — all kept (quantizer wants more
    // centroids; the join must never go quadratic on a skewed cell)
    assert(big.forall { case (id, _, _) => out(id) == (1L, -1L) })
  }

  test("semantic dedup over the corpus index: complete, consistent verdicts") {
    Tables.register(spark, sf)
    functions.VecFunctions.register(spark)
    val n = spark.table("embeddings").count()
    val out = similarity.Similarity.semanticDedup(spark, sf).cache()
    assert(out.count() == n)
    assert(out.select("vec_id").distinct().count() == n)
    // dropped vectors always point at a lower-id exemplar that was KEPT
    // at a cosine >= the threshold
    val dropped = out.where("keep = 0")
    assert(dropped.where("dup_of >= vec_id").count() == 0)
    assert(dropped.where("dup_cos < 0.45").count() == 0)
    val keptIds = out.where("keep = 1").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // NOTE: with min-id dominance an exemplar is kept by construction:
    // if dup_of=a dropped b, then a itself has no lower-id neighbor
    // above threshold in the cell OR points even lower — either way the
    // chain bottoms out at a kept min. Spot-check the direct rule:
    dropped.select("dup_of").distinct().collect().map(_.getLong(0))
      .foreach { a =>
        assert(a >= 0, "dup_of must be a vec_id")
      }
    info(s"kept ${keptIds.size} of $n")
    out.unpersist(false)
  }

  test("IVF top-k has reasonable recall vs brute force") {
    Tables.register(spark, sf)
    functions.VecFunctions.register(spark)
    val exact = spark.sql(similarity.Similarity.bruteforceSparkSql)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = similarity.Similarity.ivfTopK(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"IVF top-k recall@${similarity.Similarity.K} = $recall")
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("persisted IVF index: reload reproduces top-k; probes prune " +
    "cell partitions at plan time") {
    Tables.register(spark, sf)
    functions.VecFunctions.register(spark)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_persist").toString
    similarity.Similarity.saveIvfIndex(spark, sf, path)
    val (cents, assigned) = similarity.Similarity.loadIvfIndex(spark, path)
    // identical probe results from the reloaded layout
    val live = similarity.Similarity.ivfTopK(spark, sf).collect().toSeq
    val reloaded = similarity.Similarity.ivfTopKFrom(cents, assigned)
      .collect().toSeq
    assert(reloaded == live, "reloaded index changed the top-k results")
    // the layout IS the scale story: a cell predicate must reach the
    // parquet scan as a partition filter (probing p cells reads p dirs)
    val plan = spark.read.parquet(s"$path/cells")
      .where("cell = 0").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      s"cell predicate not a partition filter:\n$plan")
  }

  test("IVF-PQ top-k recall stays close to plain IVF after 16x compression") {
    Tables.register(spark, sf)
    functions.VecFunctions.register(spark)
    val exact = spark.sql(similarity.Similarity.bruteforceSparkSql)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = similarity.Similarity.ivfPqTopK(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"IVF-PQ top-k recall@${similarity.Similarity.K} = $recall")
    assert(recall >= 0.4, s"recall $recall too low")
  }

  test("ANN recall gates hold at the bench scale factor (sf0.1)") {
    // sim_ann_recall is deterministic (fixed seeds, fixed query set), so
    // its per-method means are pinnable: a parameter change that degrades
    // index quality at the BENCH scale fails here, not silently in a
    // worse recall row nobody reads. Gates sit under the measured means
    // (lsh 0.64, ivf 0.80, ivfpq 0.66 at sf0.1) with headroom only for
    // genuine tie-order jitter, not for quality regressions.
    val benchSf = "/root/testdata/sf0.1"
    // precondition, not a failure: the gate is only meaningful at the
    // bench scale factor, which a fresh checkout may not have generated
    assume(new java.io.File(s"$benchSf/embeddings.parquet").exists(),
      s"bench-scale dataset $benchSf not generated on this machine")
    val means = similarity.Similarity.annRecall(spark, benchSf)
      .where("qid = -1").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    info(s"sf0.1 mean recall@${similarity.Similarity.K}: $means")
    val gates = Map("lsh" -> 0.50, "ivf" -> 0.70, "ivfpq" -> 0.55)
    for ((m, g) <- gates)
      assert(means.getOrElse(m, 0.0) >= g,
        s"$m mean recall ${means.get(m)} below gate $g")
  }

  test("PQ codes are in range and quantization beats the zero coder") {
    Tables.register(spark, sf)
    val (codebooks, encoded) = similarity.Similarity.pqIndex(spark, sf)
    assert(codebooks.length == similarity.Similarity.PqM)
    assert(codebooks.forall(_.length == similarity.Similarity.PqKs))
    val rows = encoded.select("codes").collect()
    rows.foreach { r =>
      val cs = r.getSeq[Int](0)
      assert(cs.length == similarity.Similarity.PqM)
      assert(cs.forall(c => c >= 0 && c < similarity.Similarity.PqKs))
    }
    // reconstruction error must be below residual energy: the codebooks
    // actually learned structure (zero coder == predicting the cell mean)
    val cents = similarity.Similarity.ivfIndexCentroids(spark, sf)
    val stats = encoded.select("embedding", "cell", "codes").collect().map { r =>
      val e = r.getSeq[Float](0); val c = cents(r.getInt(1)); val cs = r.getSeq[Int](2)
      val dim = e.length; val subDim = dim / similarity.Similarity.PqM
      var resE = 0.0; var errE = 0.0
      for (j <- 0 until dim) {
        val res = e(j).toDouble - c(j)
        val rec = codebooks(j / subDim)(cs(j / subDim))(j % subDim)
        resE += res * res; errE += (res - rec) * (res - rec)
      }
      (resE, errE)
    }
    val (resTot, errTot) = stats.foldLeft((0.0, 0.0)) {
      case ((a, b), (x, y)) => (a + x, b + y) }
    info(f"PQ residual energy $resTot%.1f -> reconstruction error $errTot%.1f")
    assert(errTot < 0.8 * resTot,
      s"PQ reconstruction error $errTot not meaningfully below residual energy $resTot")
  }


  test("streaming ANN ingest occupancy equals the batch-built index") {
    Tables.register(spark, sf)
    val stream = streaming.StreamingOps.queries("stream_ann_ingest")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val batch = similarity.Similarity.cellCounts(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(stream.nonEmpty && stream == batch)
  }

  test("bloom-prefiltered keep-list equals the exact keep-list") {
    val plain = dedup.Dedup.keepList(spark, sf)
    val bloom = dedup.Dedup.keepListBloom(spark, sf)
    assert(plain.count() > 0)
    assert(bloom.exceptAll(plain).isEmpty && plain.exceptAll(bloom).isEmpty)
  }

  test("cluster labels are component minima and consistent with pairs") {
    val pairs = dedup.Dedup.queries("dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = dedup.Dedup.clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every endpoint of a pair is labeled, both ends share a label,
    // and no label exceeds the doc id it labels
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.foreach { case (d, l) => assert(l <= d) }
    // each cluster's label is a member of the cluster
    labels.groupBy(_._2).foreach { case (l, members) =>
      assert(members.contains(l), s"canonical $l not in its own cluster")
    }
  }

  test("label propagation: 21-node chain converges with a constant-depth plan") {
    import spark.implicits._
    // worst case for label propagation: a pure chain needs one iteration
    // per hop, so lineage growth or per-iteration leaks would show up here
    val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val labels = dedup.Dedup.propagateLabels(pairs, maxIter = 25)
    // plan depth must NOT scale with iterations: the checkpointed result
    // is a flat LogicalRDD leaf under a single projection
    val planNodes = labels.queryExecution.analyzed.collect { case n => n }.size
    assert(planNodes <= 5, s"plan grew with iterations: $planNodes nodes\n" +
      labels.queryExecution.analyzed.treeString)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 21)
    assert(out.values.forall(_ == 0L), s"chain did not fully converge: $out")
    // predecessor generations were unpersisted: only the final
    // generation's checkpoint blocks remain registered beyond what the
    // (shared) session already had cached
    val leaked = spark.sparkContext.getPersistentRDDs.size - persistedBefore
    assert(leaked <= 1, s"$leaked persistent RDDs leaked by propagation loop")
  }

  test("shingles3 kernel is byte-exact with the SQL xxhash64 spelling") {
    // direct equivalence on adversarial token shapes: unicode, empties,
    // 1/2/3-token docs, repeats (exercises the first-occurrence dedup)
    import spark.implicits._
    graft.functions.VecFunctions.register(spark)
    val docs = Seq(
      "the quick brown fox jumps",
      "one",
      "two words",
      "tri gram doc",
      "a a a a a",                       // all-identical trigrams collapse
      "naïve café über straße 東京 データ", // multi-byte UTF-8
      "x y z x y z x y z"                // repeated trigrams across offsets
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "text")
      .selectExpr("id", "split(lower(trim(text)), '\\\\s+') AS tok")
    val native = df.selectExpr("id", "array_sort(shingles3(tok)) AS sh")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sql = df.selectExpr("id",
      """array_sort(array_distinct(CASE WHEN size(tok) >= 3 THEN
        |  transform(sequence(1, size(tok) - 2),
        |    i -> xxhash64(concat_ws(' ', element_at(tok, i),
        |           element_at(tok, i + 1), element_at(tok, i + 2))))
        |ELSE array(xxhash64(concat_ws(' ', tok))) END)) AS sh""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    docs.foreach { case (id, t) =>
      assert(native(id) == sql(id), s"doc $id ('$t')")
    }
  }

  test("decontaminate plan: benchmark grams broadcast, corpus never SMJs") {
    Tables.register(spark, sf)
    val plan = text.TextAnalysis.queries("text_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "corpus grams shuffled through SMJ")
  }

  test("dedup_incremental verdicts partition the batch with consistent scores") {
    val out = dedup.Dedup.queries("dedup_incremental")(spark, sf).cache()
    val nNew = Tables.load(spark, sf, "documents")
      .where("doc_id % 2 = 1").count()
    assert(out.count() == nNew, "one verdict per new-batch doc")
    import org.apache.spark.sql.functions._
    // verdict/score consistency: exact => n_exact>0; near => jac in
    // [0.5,1]; unique => no exact hit and jac below threshold
    assert(out.where(col("verdict") === "exact" && col("n_exact") <= 0).count() == 0)
    assert(out.where(col("verdict") === "near" &&
      (col("best_jac") < 0.5 || col("best_jac") > 1.0 || col("n_exact") > 0))
      .count() == 0)
    assert(out.where(col("verdict") === "unique" &&
      (col("n_exact") > 0 || col("best_jac") >= 0.5)).count() == 0)
    // the synthetic corpus has cross-parity near-dups: non-vacuous
    assert(out.where(col("verdict") === "near").count() > 0)
    out.unpersist(false)
  }

  test("multimodal decode features are deterministic") {
    val a = multimodal.Multimodal.decodeFeatures(spark, sf).collect().toSeq
    val b = multimodal.Multimodal.decodeFeatures(spark, sf).collect().toSeq
    assert(a == b)
    assert(a.size == Tables.load(spark, sf, "documents").count())
  }

  test("phash dedup: decoded dHash groups match the closed-form oracle") {
    // independent oracle: recompute each doc's 9x8 dHash from the pixel
    // formula, group, keep buckets of >1 — Spark must recover the same
    // buckets from the actual decoded PNG bytes
    def hash(id: Long): (Long, Long) = {
      val w = (16 + id % 48).toInt
      val h = (16 + (id * 7) % 48).toInt
      def px(x: Int, y: Int): Long = (x * 7L + y * 13L + id * 31L) % 256L
      var lo = 0L; var hi = 0L
      for (oy <- 0 until 8; ox <- 0 until 8) {
        val sy = oy * h / 8
        if (px((ox + 1) * w / 9, sy) > px(ox * w / 9, sy)) {
          val bit = oy * 8 + ox
          if (bit < 32) lo |= 1L << bit else hi |= 1L << (bit - 32)
        }
      }
      (hi, lo)
    }
    val ids = Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val expected = ids.groupBy(hash).filter(_._2.length > 1)
      .map { case ((hi, lo), ds) =>
        (hi, lo, ds.length.toLong, ds.min, ds.sum) }
      .toSeq.sorted
    val got = multimodal.Multimodal.phashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    assert(got == expected)
    assert(got.nonEmpty) // non-vacuous: the corpus has dHash collisions
  }

  test("phash near-dup: banded join equals brute-force all-pairs") {
    def hash(id: Long): (Long, Long) = {
      val w = (16 + id % 48).toInt
      val h = (16 + (id * 7) % 48).toInt
      def px(x: Int, y: Int): Long = (x * 7L + y * 13L + id * 31L) % 256L
      var lo = 0L; var hi = 0L
      for (oy <- 0 until 8; ox <- 0 until 8) {
        val sy = oy * h / 8
        if (px((ox + 1) * w / 9, sy) > px(ox * w / 9, sy)) {
          val bit = oy * 8 + ox
          if (bit < 32) lo |= 1L << bit else hi |= 1L << (bit - 32)
        }
      }
      (hi, lo)
    }
    val hs = Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0)).sorted.map(id => (id, hash(id)))
    val expected = (for {
      (a, (ahi, alo)) <- hs; (b, (bhi, blo)) <- hs if a < b
      d = java.lang.Long.bitCount(ahi ^ bhi) + java.lang.Long.bitCount(alo ^ blo)
      if d <= multimodal.Multimodal.NearRadius
    } yield (a, b, d.toLong)).toSeq.sorted
    val got = multimodal.Multimodal.phashNear(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("audio resample: unit-rate docs pass through, others shrink exactly") {
    val rows = multimodal.Multimodal.audioResample(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "documents").count())
    rows.foreach { r =>
      val id = r.getLong(0); val rate = r.getLong(1); val nOut = r.getLong(2)
      val nIn = 2000 + id % 1000
      assert(rate == 8000 + (id % 4) * 4000)
      // out count = floor((n_in-1) * 8000 / rate) + 1
      assert(nOut == (nIn - 1) * 8000 / rate + 1, s"doc $id")
      if (rate == 8000) {
        // identity resample: doubled-sum equals 2x the raw sample sum
        val s = Array.tabulate(nIn.toInt)(i =>
          ((id * 31L + i.toLong * 7919L) % 65536L) - 32768L)
        assert(r.getLong(3) == 2 * s.sum, s"doc $id passthrough sum")
      }
    }
  }

  test("portable minhash: signature agreement estimates Jaccard") {
    // The DuckDB oracle pins the mod-p computation bit-for-bit; this pins
    // the SKETCH SEMANTICS: E[fraction of agreeing minima] = J(a, b).
    // Planted near-dups (J >= 0.9) must agree on most of the 16 minima;
    // unrelated docs (J ~ 0) on almost none.
    functions.VecFunctions.register(spark)
    val sigs = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        "minhash_portable(split(lower(trim(text)), '\\\\s+')) AS sig")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val near = exactPairs(0.9)
    assert(near.nonEmpty)
    near.foreach { case (a, b) =>
      val agree = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      assert(agree >= 10, s"near-dup ($a,$b) agreed only $agree/16")
    }
    // an arbitrary non-dup pair: J ~ 0 => expected agreement ~ 0
    val ids = sigs.keys.toSeq.sorted
    val far = ids.combinations(2).map { case Seq(a, b) => (a, b) }
      .filterNot(near)
      .take(50)
    val farAgrees = far.map { case (a, b) =>
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y } }.toSeq
    assert(farAgrees.sum <= farAgrees.size * 2,
      s"unrelated pairs agree too often: $farAgrees")
  }

  test("portable RHP-LSH: sign bits match an independent projection; twins yield real results") {
    // The DuckDB oracle pins the pipeline cross-engine; this pins the
    // SIGNATURE SEMANTICS against an independent Scala recomputation of
    // the integer-hyperplane projections, and that both portable twins
    // return non-degenerate results on the fixture corpus.
    functions.VecFunctions.register(spark)
    Tables.register(spark, sf)
    val rows = spark.sql(
      """SELECT vec_id, embedding,
        |  transform(sequence(0, 31), p -> IF(
        |    aggregate(transform(sequence(1, 64), i ->
        |      CAST((19 * (p * 64 + i) + 41) % 1009 - 504 AS DOUBLE)
        |        * CAST(element_at(embedding, i) AS DOUBLE)),
        |      0D, (s, x) -> s + x) > 0D, 1, 0)) AS sig
        |FROM embeddings WHERE vec_id < 20""".stripMargin).collect()
    rows.foreach { r =>
      val e = r.getSeq[Float](1)
      val sig = r.getSeq[Int](2)
      for (p <- 0 until 32) {
        var acc = 0.0
        for (i <- 1 to 64)
          acc += ((19 * (p * 64 + i) + 41) % 1009 - 504).toDouble * e(i - 1).toDouble
        assert(sig(p) == (if (acc > 0) 1 else 0),
          s"vec ${r.getLong(0)} plane $p")
      }
    }
    // top-k twin: full panels, valid ranks, descending cosine per query
    val topk = similarity.Similarity.queries("sim_lsh_topk_portable")(spark, sf)
      .collect()
    assert(topk.length == similarity.Similarity.K * similarity.Similarity.NumQueries)
    topk.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // dedup twin: non-empty, ordered pairs, threshold respected
    val pairs = similarity.Similarity.queries("dedup_embedding_portable")(spark, sf)
      .collect()
    assert(pairs.nonEmpty, "portable dedup twin found no pairs")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.40)
    }
  }

  test("portable twins: materialized pipelines are row-identical to the SQL spellings") {
    // The DataFrame implementations exist to compute the signature once
    // (cached) instead of per CTE reference; this pins that they stay
    // row-identical to the SQL spellings the DuckDB oracles mirror.
    functions.VecFunctions.register(spark)
    Tables.register(spark, sf)
    for ((impl, sql) <- Seq(
      similarity.Similarity.queries("sim_lsh_topk_portable")(spark, sf) ->
        similarity.Similarity.lshPortableSparkSql,
      similarity.Similarity.queries("dedup_embedding_portable")(spark, sf) ->
        similarity.Similarity.embDedupPortableSparkSql,
      similarity.Similarity.queries("dedup_semantic_portable")(spark, sf) ->
        similarity.Similarity.semanticPortableSparkSql)) {
      val a = impl.collect().map(_.toString).toSeq
      val b = spark.sql(sql).collect().map(_.toString).toSeq
      assert(a == b)
    }
  }

  test("portable minhash: gram hash matches an independent codepoint fold") {
    functions.VecFunctions.register(spark)
    import spark.implicits._
    val text = "alpha beta gamma delta"
    val sig = Seq(text).toDF("text")
      .selectExpr("minhash_portable(split(text, ' ')) AS sig")
      .head().getSeq[Long](0)
    val P = functions.HashKernels.PortP
    def H(s: String): Long = s.codePoints().toArray
      .foldLeft(0L)((a, c) => (a * 31 + c) % P)
    val grams = Seq("alpha beta gamma", "beta gamma delta").map(H)
    val expect = functions.HashKernels.portA
      .zip(functions.HashKernels.portB)
      .map { case (a, b) => grams.map(h => (a * h + b) % P).min }
    assert(sig == expect.toSeq)
  }

  test("audio WAV roundtrip recovers the closed-form sample statistics") {
    // independent oracle: recompute each doc's features from the sample
    // formula and compare to what Spark recovered from the WAV bytes
    def expected(id: Long): (Long, Long, Long, Long, Long, Long, Long, Long, Long) = {
      val sr = 8000 + (id % 4) * 4000
      val n = (2000 + id % 1000).toInt
      val s = Array.tabulate(n)(i => ((id * 31L + i.toLong * 7919L) % 65536L) - 32768L)
      val zc = (1 until n).count(i => (s(i) < 0) != (s(i - 1) < 0)).toLong
      (id, sr, n.toLong, s.min, s.max, s.sum, s.map(v => v * v).sum, zc,
        n.toLong * 1000L / sr)
    }
    val rows = multimodal.Multimodal.audioFeatures(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "documents").count())
    rows.take(20).foreach { r =>
      val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
      assert(got == expected(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
  }
}
