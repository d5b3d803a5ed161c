package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, max}

/** Scale-corpus generator for the sf1+ cap-proof benchmarks
  * (VERDICT r8 task 2: "prove the caps at 10x bench scale").
  *
  * Reproduces the driver testdata's `documents`/`embeddings` shape
  * (31-word vocab, `src{id%20}` sources, weighted langs, ~0.3% exact
  * dups, small near-dup clusters, unit-norm 64-dim label-clustered
  * embeddings — measured from /root/testdata/sf0.1) at an arbitrary
  * multiple of sf0.1, plus one DEGENERATE feature the caps exist for:
  * a 600-doc shared-prefix hot cluster (0.06%/sf of the corpus) that
  * would explode any uncapped prefix-block candidate join to C(600,2).
  *
  * Generation is per-row seeded (`mix(id)`) so the output is
  * bit-deterministic regardless of partitioning or core count, and
  * distributed — no driver-side materialization at any scale.
  *
  * Usage: runMain graft.GenCorpus <outDir> <multiplier>
  *   multiplier 10 = "sf1": 50k docs / 20k vectors.
  * The non-corpus sf0.1 tables are hard-linked/copied alongside so the
  * output dir is a complete Bench SF dir.
  */
object GenCorpus {
  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "zh", "es", "fr", "de")
  // measured sf0.1 weights: en .41, zh .15, es .15, fr .15, de .14
  private val LangCdf = Array(0.41, 0.56, 0.71, 0.86, 1.0)

  /** splitmix64 — stable scalar seed mixer (public-domain constant). */
  private def mix(id: Long, salt: Long): Long = {
    var z = id + salt + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Base text for a doc id — pure so near-dup members can re-derive
    * their cluster base without reading it. 8..96 words (44..577 chars
    * at ~6 chars/word, matching the measured length band). */
  private def genText(id: Long): String = {
    val r = new java.util.Random(mix(id, 0xd0c5L))
    val n = 8 + r.nextInt(89)
    val sb = new StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** Perturb ~10% of words — a near-dup inside typical MinHash/SimHash
    * thresholds. */
  private def perturb(base: String, seed: Long): String = {
    val r = new java.util.Random(seed)
    val w = base.split(' ')
    var i = 0
    while (i < w.length) {
      if (r.nextInt(10) == 0) w(i) = Vocab(r.nextInt(Vocab.length))
      i += 1
    }
    w.mkString(" ")
  }

  // Hot cluster: 600 docs sharing a fixed 40-word prefix (the
  // DedupCapSpec degenerate fixture at corpus scale).
  private val HotLo = 1000L
  private val HotHi = 1600L
  private val HotPrefix: String = {
    val r = new java.util.Random(0x407c1L)
    Array.fill(40)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  def docRow(id: Long): (Long, String, String, String, Long) = {
    val r = new java.util.Random(mix(id, 0xa77aL))
    val u = r.nextDouble()
    val lang = Langs(LangCdf.indexWhere(u <= _))
    val text =
      if (id >= HotLo && id < HotHi)
        HotPrefix + " " + genText(id).split(' ').take(20).mkString(" ")
      else if (id % 625 == 624) genText(id - 1)            // exact dup
      else if (id % 20 >= 17 && id % 20 != 0)              // near-dup trio
        perturb(genText(id - (id % 20) + 16), mix(id, 0x9e47L))
      else genText(id)
    (id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  private val Dim = 64
  private val Centers: Array[Array[Double]] = Array.tabulate(10) { l =>
    val r = new java.util.Random(777L + l)
    Array.fill(Dim)(r.nextGaussian())
  }

  /** Unit-norm vector near its label center; every 100th is a jittered
    * copy of its predecessor (semantic near-dup pairs). */
  def vecRow(id: Long): (Long, Array[Float], Int) = {
    def raw(i: Long): (Array[Double], Int) = {
      val r = new java.util.Random(mix(i, 0xecc0L))
      val label = r.nextInt(10)
      val c = Centers(label)
      (Array.tabulate(Dim)(d => 0.8 * c(d) + 0.6 * r.nextGaussian()), label)
    }
    val (v, label) =
      if (id % 100 == 99) {
        val (b, l) = raw(id - 1)
        val r = new java.util.Random(mix(id, 0x1177L))
        (b.map(_ + 0.02 * r.nextGaussian()), l)
      } else raw(id)
    val norm = math.sqrt(v.map(x => x * x).sum)
    (id, v.map(x => (x / norm).toFloat), label)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mult = args(1).toInt
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    val spark = Harness.session(Harness.cpus)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    import spark.implicits._

    /** Land `df` as a PLAIN parquet file `<outDir>/<name>.parquet`
      * (not a directory) so DuckDB oracles read it exactly like the
      * driver testdata layout. */
    def writeOne(df: DataFrame, name: String): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import scala.jdk.CollectionConverters._
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part under $tmp"))
      val target = Paths.get(s"$outDir/$name.parquet")
      if (Files.isDirectory(target)) { // leftover directory-form output
        Files.walk(target).iterator.asScala.toSeq.reverse
          .foreach(Files.delete)
      }
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      Files.walk(Paths.get(tmp)).iterator.asScala.toSeq.reverse
        .foreach(Files.delete)
    }

    writeOne(spark.range(0, nDocs, 1, 32).map(r => docRow(r))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
    writeOne(spark.range(0, nVecs, 1, 32).map(r => vecRow(r))
      .toDF("vec_id", "embedding", "label"), "embeddings")

    // Relational + event tables: replicate sf0.1 `mult`× with disjoint
    // per-replica key shifts (stride = max(key)+1), the TPC-H scaling
    // shape — FK integrity and per-key join fan-outs are preserved
    // exactly, distinct keys and group counts scale linearly, and the
    // event stream gains mult× concurrent users inside the same time
    // window (mult× streaming state, the part that matters).
    val base = "/root/testdata/sf0.1"
    def keyMax(name: String, c: String): Long =
      Tables.load(spark, base, name).agg(max(col(c))).head.getLong(0) + 1
    val (kc, ks, kp, ko) = (keyMax("customer", "c_custkey"),
      keyMax("supplier", "s_suppkey"), keyMax("part", "p_partkey"),
      keyMax("orders", "o_orderkey"))
    val (ke, ku) = (keyMax("events", "event_id"), keyMax("events", "user_id"))
    def rep(name: String, shifts: (String, Long)*): Unit =
      writeOne((0 until mult).map { i =>
        shifts.foldLeft(Tables.load(spark, base, name)) {
          case (d, (c, k)) => d.withColumn(c, col(c) + lit(i * k))
        }
      }.reduce(_ unionAll _), name)
    rep("customer", "c_custkey" -> kc)
    rep("supplier", "s_suppkey" -> ks)
    rep("part", "p_partkey" -> kp)
    rep("orders", "o_orderkey" -> ko, "o_custkey" -> kc)
    rep("lineitem", "l_orderkey" -> ko, "l_partkey" -> kp, "l_suppkey" -> ks)
    rep("events", "event_id" -> ke, "user_id" -> ku)
    // dimension tables stay fixed at every scale (TPC-H semantics)
    for (name <- Seq("region", "nation")) {
      val t = java.nio.file.Paths.get(s"$outDir/$name.parquet")
      if (!java.nio.file.Files.exists(t))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$base/$name.parquet"), t)
    }
    println(s"== gencorpus docs=$nDocs vecs=$nVecs mult=$mult out=$outDir")
    spark.stop()
  }
}
