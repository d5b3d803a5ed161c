package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions deployment path: a fresh session built with
  * GraftExtensions can call the native functions from raw SQL with no
  * per-session registration. */
class ExtensionsSpec extends AnyFunSuite {

  test("extension-injected functions are available in SQL") {
    // getOrCreate reuses an existing default session and IGNORES the
    // extensions config — clear it so a genuinely new session is built
    // (the shared SparkContext is reused), then restore for other suites.
    // `spark.sql.extensions` itself is a STATIC conf resolved from the
    // SparkContext's conf, so when another suite's context already
    // exists in this JVM the string-classname path cannot apply — the
    // spec replicates what Spark's applyExtensions does with the conf
    // value (Class.forName the configured name, no-arg instantiate,
    // apply to the builder's extensions), which pins the same
    // deployment contract: the class is loadable by name and its
    // injections register. The shared context comes from GraftSpark
    // first, so suite order never leaves a local[2] context behind for
    // the specs that pin the harness shape.
    GraftSpark.spark
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val confName = "graft.GraftExtensions"
    val inject = Class.forName(confName).getConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", confName)
      .withExtensions(inject)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val cos = spark.sql(
        """SELECT vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c
        """.stripMargin).head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      val bands = spark.sql(
        "SELECT size(minhash_bands(array(CAST(1 AS BIGINT), 2, 3))) AS n")
        .head().getInt(0)
      assert(bands == graft.functions.HashKernels.Bands)
      val sh = spark.sql(
        "SELECT simhash64(array(CAST(-1 AS BIGINT))) AS s").head().getLong(0)
      assert(sh == -1L) // all 64 bits set by the single all-ones hash
      val grams = spark.sql(
        "SELECT size(shingles3(array('a', 'b', 'c', 'd'))) AS n")
        .head().getInt(0)
      assert(grams == 2) // 'a b c' and 'b c d'
      // nfc: decomposed e + U+0301 composes to 2-byte é; ASCII untouched
      val nfc = spark.sql(
        "SELECT octet_length(nfc('é')) AS n, nfc('plain') AS p")
        .head()
      assert(nfc.getInt(0) == 2 && nfc.getString(1) == "plain")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
