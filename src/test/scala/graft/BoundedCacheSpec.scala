package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one artifact-cache policy: insertion-order eviction that never
  * evicts the requested key, retry after a failed build, a registry
  * that `clearAll` releases, hit/miss counts — and the consequence the
  * harness relies on: landed artifacts shared by several queries
  * rebuild to the same rows after a clear. */
class BoundedCacheSpec extends AnyFunSuite {

  private def recording(max: Int) = {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    (new BoundedCache[String](max, v => evicted.synchronized(evicted += v)),
      evicted)
  }

  test("a miss at capacity evicts the oldest entry once, never the " +
    "requested key") {
    val (c, evicted) = recording(max = 2)
    assert(c.get("a")("A") == "A")
    assert(c.get("b")("B") == "B")
    // a hit at capacity evicts nothing, and does not reorder: eviction
    // follows insertion order
    assert(c.get("a")(fail("hit must not rebuild")) == "A")
    assert(evicted.isEmpty)
    assert(c.get("c")("C") == "C")
    assert(evicted.toSeq == Seq("A"))
    // the requested key and the younger entry survive
    assert(c.get("c")(fail("requested key was evicted")) == "C")
    assert(c.get("b")(fail("younger entry was evicted")) == "B")
    assert(evicted.toSeq == Seq("A"))
    // a bound of one still keeps the key just requested
    val (one, ev1) = recording(max = 1)
    one.get("x")("X")
    assert(one.get("y")("Y") == "Y")
    assert(one.get("y")(fail("requested key was evicted")) == "Y")
    assert(ev1.toSeq == Seq("X"))
  }

  test("a build that throws leaves the key absent; the next get " +
    "rebuilds") {
    val (c, evicted) = recording(max = 4)
    intercept[IllegalStateException] {
      c.get("k")(throw new IllegalStateException("build failed"))
    }
    var builds = 0
    assert(c.get("k") { builds += 1; "K" } == "K")
    assert(c.get("k") { builds += 1; "K2" } == "K")
    assert(builds == 1)
    assert(evicted.isEmpty)
  }

  test("clearAll runs the callback of every registered instance") {
    val (c1, ev1) = recording(max = 4)
    val (c2, ev2) = recording(max = 4)
    c1.get("a")("A1"); c1.get("b")("B1"); c2.get("a")("A2")
    BoundedCache.clearAll()
    assert(ev1.toSet == Set("A1", "B1") && ev1.size == 2)
    assert(ev2.toSeq == Seq("A2"))
    // cleared entries rebuild
    assert(c1.get("a")("A1'") == "A1'")
    assert(c2.get("a")("A2'") == "A2'")
  }

  test("hits and misses are counted per instance and in the process " +
    "total") {
    val (c, _) = recording(max = 2)
    val (h0, m0) = BoundedCache.totals
    c.get("a")("A"); c.get("a")("A"); c.get("a")("A")
    c.get("b")("B")
    intercept[RuntimeException](c.get("z")(throw new RuntimeException))
    assert(c.counts == ((2L, 3L)))
    val (h1, m1) = BoundedCache.totals
    assert(h1 - h0 == 2L && m1 - m0 == 3L)
  }

  test("key: the application plus every part; distinct part lists " +
    "never collide") {
    val spark = GraftSpark.spark
    val k = BoundedCache.key(spark, "d", 1)
    assert(k.startsWith(spark.sparkContext.applicationId))
    assert(k != BoundedCache.key(spark, "d", 2))
    assert(BoundedCache.key(spark, "a b", "c") !=
      BoundedCache.key(spark, "a", "b c"))
  }

  test("landed ANN edges and kNN graph rebuild to the same rows after " +
    "clearAll") {
    import GraftSpark.{spark, sf}
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString(",")).toSeq.sorted
    def both() = (rows(similarity.Similarity.annEdges(spark, sf)),
      rows(similarity.Kmeans.knnGraphCached(spark, sf)))
    val (ann0, knn0) = both()
    BoundedCache.clearAll()
    val (_, m0) = BoundedCache.totals
    val (ann1, knn1) = both()
    val (_, m1) = BoundedCache.totals
    assert(m1 - m0 >= 2, "both artifacts must rebuild after clearAll")
    assert(ann0.nonEmpty && knn0.nonEmpty)
    assert(ann1 == ann0,
      s"ANN edges differ: ${ann0.diff(ann1).take(5)} vs ${ann1.diff(ann0).take(5)}")
    assert(knn1 == knn0,
      s"kNN graph differs: ${knn0.diff(knn1).take(5)} vs ${knn1.diff(knn0).take(5)}")
  }
}
