package graft

import graft.functions.{CosineSimilarity, MinHashBands, NfcNormalize, Shingles3, SimHash64, StopwordHits, ZOrder64}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension injector — the standard deployment hook for the
  * engine's native expressions:
  *
  * setting `spark.sql.extensions=graft.GraftExtensions` on a session
  * builder makes `vec_cosine`, `minhash_bands` and `simhash64`
  * available to every session (SQL and DataFrame API) without
  * per-session registration calls — the packaging a cluster-wide
  * install uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of float vectors"),
      { args: Seq[Expression] =>
        require(args.length == 2, "vec_cosine(a, b) takes two arguments")
        CosineSimilarity(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      info("minhash_bands", "minhash_bands(hset) - MinHash LSH band hashes"),
      { args: Seq[Expression] =>
        require(args.length == 1, "minhash_bands(hset) takes one argument")
        MinHashBands(args(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(hset) - 64-bit SimHash signature"),
      { args: Seq[Expression] =>
        require(args.length == 1, "simhash64(hset) takes one argument")
        SimHash64(args(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("zorder64"),
      info("zorder64", "zorder64(x, y) - Morton z-order code of two int coords"),
      { args: Seq[Expression] =>
        require(args.length == 2, "zorder64(x, y) takes two arguments")
        ZOrder64(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingles3"),
      info("shingles3", "shingles3(tok) - hashed distinct word-3-gram shingles"),
      { args: Seq[Expression] =>
        require(args.length == 1, "shingles3(tok) takes one argument")
        Shingles3(args(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("stopword_hits"),
      info("stopword_hits", "stopword_hits(tok) - per-language stopword hit counts [en,de,fr,es]"),
      { args: Seq[Expression] =>
        require(args.length == 1, "stopword_hits(tok) takes one argument")
        StopwordHits(args(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc"),
      info("nfc", "nfc(str) - Unicode canonical composition (NFC)"),
      { args: Seq[Expression] =>
        require(args.length == 1, "nfc(str) takes one argument")
        NfcNormalize(args(0))
      }))
    // derive pushdown-able z-range bounds from tx/ty box predicates on
    // z-clustered tables (see graft.plans.ZOrderRangePruning)
    ext.injectOptimizerRule(graft.plans.ZOrderRangePruning(_))
    // repartition split-starved parquet scans under expensive per-row
    // work (see graft.plans.ScanRebalanceRule)
    ext.injectOptimizerRule(graft.plans.ScanRebalanceRule(_))
  }
}
