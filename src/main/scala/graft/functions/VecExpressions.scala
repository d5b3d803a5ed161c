package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over `Array[Float]`
  * embedding columns — the hot kernel of similarity search and
  * embedding-cosine dedup (north-star ops). A codegen'd primitive loop
  * replaces the interpreted `aggregate(zip_with(...))` higher-order
  * functions (one lambda eval per element) with three fused
  * multiply-adds per element inside whole-stage codegen.
  *
  * Semantics match the SQL spelling used by the DuckDB oracle: dot and
  * norms accumulate in Double, left-to-right; norms run over each full
  * array; result is NULL only when an input is NULL (length mismatch
  * contributes only the overlapping prefix to the dot product). A
  * zero-norm input yields 0.0 — a zero vector has no direction, and NaN
  * would sort ABOVE every real cosine in a descending top-k. Null array
  * *elements* are skipped (contribute to neither the dot product nor the
  * norms) — explicit semantics for `array<float>` columns whose parquet
  * schema marks elements nullable, instead of silently reading them as 0.
  */
/** Primitive kernels for embedding signatures, callable from generated
  * code (Scala objects emit static forwarders). */
object VecKernels {
  /** splitmix64 — deterministic counter-based PRNG (public-domain
    * constants), so hyperplane components need no stored matrix shared
    * across executors: component(b, i) is a pure function of (seed, b, i). */
  @inline private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Flat sigBits×dim hyperplane matrix, uniform [-1, 1) components —
    * sign-random-projection only needs symmetric components. Cached per
    * (seed, sigBits, dim) per JVM; regenerated deterministically on every
    * executor, so nothing ships with the task closure. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[Double]]()

  private def planes(seed: Long, sigBits: Int, dim: Int): Array[Double] = {
    val key: java.lang.Long = (seed * 1000003L + sigBits.toLong) * 100003L + dim
    planeCache.computeIfAbsent(key, _ => {
      val m = new Array[Double](sigBits * dim)
      var b = 0
      while (b < sigBits) {
        var i = 0
        while (i < dim) {
          val h = mix(seed ^ (b.toLong << 32) ^ i.toLong)
          m(b * dim + i) = (h >>> 11) * (2.0 / (1L << 53)) - 1.0
          i += 1
        }
        b += 1
      }
      m
    })
  }

  /** Random-hyperplane (sign-random-projection) signature of an
    * `array<float>` embedding: bit b = sign(<emb, plane_b>). Null
    * elements are skipped (consistent with CosineSimilarity). */
  def rhpSig(arr: ArrayData, seed: Long, sigBits: Int): Long = {
    val dim = arr.numElements()
    val m = planes(seed, sigBits, dim)
    var sig = 0L
    var b = 0
    while (b < sigBits) {
      var dot = 0.0
      val off = b * dim
      var i = 0
      while (i < dim) {
        if (!arr.isNullAt(i)) dot += arr.getFloat(i) * m(off + i)
        i += 1
      }
      if (dot > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** `rhp_sig(embedding)` — 64-bit random-hyperplane LSH signature as a
  * native expression: the per-row projection stays inside whole-stage
  * codegen via a static kernel call (no Seq[Float] boxing — the round-1/2
  * `sigUdf` boxed every element of every row). */
case class RandomHyperplaneSig(child: Expression, seed: Long, sigBits: Int)
    extends UnaryExpression {
  override def prettyName: String = "rhp_sig"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${t.simpleString}")
    }
  override def nullSafeEval(input: Any): Any =
    VecKernels.rhpSig(input.asInstanceOf[ArrayData], seed, sigBits)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VecKernels.rhpSig($c, ${seed}L, $sigBits);")
  override protected def withNewChildInternal(newChild: Expression): RandomHyperplaneSig =
    copy(child = newChild)
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def prettyName: String = "vec_cosine"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        dot += x.getFloat(i).toDouble * y.getFloat(i)
      i += 1
    }
    var na = 0.0
    i = 0
    while (i < nx) {
      if (!x.isNullAt(i)) { val v = x.getFloat(i).toDouble; na += v * v }
      i += 1
    }
    var nb = 0.0
    i = 0
    while (i < ny) {
      if (!y.isNullAt(i)) { val v = y.getFloat(i).toDouble; nb += v * v }
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val v = ctx.freshName("v")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = (double) $a.getFloat($i); $na += $v * $v;
         |  }
         |}
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  if (!$b.isNullAt($i)) {
         |    double $v = (double) $b.getFloat($i); $nb += $v * $v;
         |  }
         |}
         |double ${v}d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ${v}d == 0.0 ? 0.0 : $dot / ${v}d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object VecFunctions {
  /** Register the engine's native expressions in the session's function
    * registry so both the DataFrame path (`call_function`) and raw SQL
    * can use them. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "vec_cosine",
      { args: Seq[Expression] =>
        require(args.length == 2, "vec_cosine(a, b) takes two arguments")
        CosineSimilarity(args(0), args(1))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "rhp_sig",
      { args: Seq[Expression] =>
        require(args.length == 1, "rhp_sig(embedding) takes one argument")
        RandomHyperplaneSig(args(0), seed = 7L, sigBits = 64)
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_bands",
      { args: Seq[Expression] =>
        require(args.length == 1, "minhash_bands(hset) takes one argument")
        MinHashBands(args(0))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64",
      { args: Seq[Expression] =>
        require(args.length == 1, "simhash64(hset) takes one argument")
        SimHash64(args(0))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "simhash_portable",
      { args: Seq[Expression] =>
        require(args.length == 1, "simhash_portable(tok) takes one argument")
        SimHashPortable(args(0))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "zorder64",
      { args: Seq[Expression] =>
        require(args.length == 2, "zorder64(x, y) takes two arguments")
        ZOrder64(args(0), args(1))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "shingles3",
      { args: Seq[Expression] =>
        require(args.length == 1, "shingles3(tok) takes one argument")
        Shingles3(args(0))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_portable",
      { args: Seq[Expression] =>
        require(args.length == 1, "minhash_portable(tok) takes one argument")
        MinHashPortable(args(0))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "nfc",
      { args: Seq[Expression] =>
        require(args.length == 1, "nfc(str) takes one argument")
        NfcNormalize(args(0))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "stopword_hits",
      { args: Seq[Expression] =>
        require(args.length == 1, "stopword_hits(tok) takes one argument")
        StopwordHits(args(0))
      },
      "built-in")
  }
}
