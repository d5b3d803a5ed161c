package graft

import graft.load.Fuse
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck invariants of the output dtype's clip-and-round rule: for
  * every dtype, `Fuse.quantize` equals `decode(encode(px))` bit for bit,
  * and `Fuse.encode` writes the bytes of the `Math.min/max` clip it
  * replaced, kept here as the oracle. Pixels mix NaN, ±0.0, ±Inf, x.5
  * ties, values past every dtype's range and raw random doubles. */
class FuseQuantizePropsSpec extends AnyFunSuite {

  private val Dtypes = Seq("uint8", "int8", "uint16", "int16", "int32",
    "int64", "float32", "float64")

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  private val pixel: Gen[Double] = Gen.frequency(
    2 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MaxValue, -Double.MaxValue,
      Double.MinPositiveValue, -Double.MinPositiveValue),
    // ties and near-ties around the dtype bounds, both signs
    3 -> Gen.zip(Gen.oneOf(0.0, 127.0, 128.0, 255.0, 256.0, 32767.0,
      32768.0, 65535.0, 65536.0, 2147483647.0, 2147483648.0, 9.2233720368547758E18),
      Gen.oneOf(-0.5, 0.5, -0.49999999999999994, 0.49999999999999994, 1.5, 0.0),
      Gen.oneOf(1.0, -1.0)).map { case (b, d, s) => s * (b + d) },
    2 -> Gen.choose(-1e5, 1e5).map(v => math.floor(v) + 0.5),
    3 -> Gen.choose(-1e20, 1e20),
    2 -> Gen.long.map(java.lang.Double.longBitsToDouble))

  private val planes: Gen[Array[Double]] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, pixel).map(_.toArray))

  private def bits(px: Array[Double]): Seq[Long] =
    px.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** `Fuse.encode` as it was, with `Math.min/max` clipping. */
  private def oracleEncode(pixels: Array[Double], dtype: String): Array[Byte] = {
    val n = pixels.length
    val buf = java.nio.ByteBuffer.allocate(n * graft.raster.Grb.dtypeSize(dtype))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def clip(v: Double, lo: Double, hi: Double): Double =
      if (v.isNaN) v else math.min(hi, math.max(lo, math.rint(v)))
    pixels.foreach { v =>
      dtype match {
        case "uint8" => buf.put(clip(v, 0, 255).toInt.toByte)
        case "int8" => buf.put(clip(v, -128, 127).toInt.toByte)
        case "uint16" => buf.putShort(clip(v, 0, 65535).toInt.toShort)
        case "int16" => buf.putShort(clip(v, -32768, 32767).toInt.toShort)
        case "int32" => buf.putInt(clip(v, Int.MinValue, Int.MaxValue).toInt)
        case "int64" => buf.putLong(clip(v, Long.MinValue, Long.MaxValue).toLong)
        case "float32" => buf.putFloat(v.toFloat)
        case "float64" => buf.putDouble(v)
      }
    }
    buf.array()
  }

  test("quantize equals decode(encode(px)) bit for bit, every dtype") {
    check(Prop.forAll(planes, Gen.oneOf(Dtypes)) { (px, dt) =>
      // a tail past n must not leak into the plane
      val padded = px ++ Array(1.5, Double.NaN)
      bits(Fuse.quantize(padded, px.length, dt)) ==
        bits(Fuse.decode(Fuse.encode(px, dt), dt))
    })
  }

  test("quantize equals decode(encode(px)) on planes long enough to be JIT-compiled") {
    val plane = Gen.listOfN(1 << 17, pixel).map(_.toArray)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(7))
    for (_ <- 0 until 20; dt <- Dtypes)
      assert(bits(Fuse.quantize(plane, plane.length, dt)) ==
        bits(Fuse.decode(Fuse.encode(plane, dt), dt)), dt)
  }

  test("encode writes the bytes of the Math.min/max clip") {
    check(Prop.forAll(planes, Gen.oneOf(Dtypes)) { (px, dt) =>
      Fuse.encode(px, dt).toSeq == oracleEncode(px, dt).toSeq
    })
  }

  test("the integer rule on its edge cases") {
    val px = Array(Double.NaN, -0.0, 0.5, 1.5, -0.5, 255.5, 256.4, -3.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    assert(Fuse.quantize(px, px.length, "uint8").toSeq ==
      Seq(0.0, 0.0, 0.0, 2.0, 0.0, 255.0, 255.0, 0.0, 255.0, 0.0))
    // −0.0 comes back as +0.0, as the integer bytes hold it
    assert(bits(Fuse.quantize(Array(-0.0), 1, "int16")) == Seq(0L))
    assert(Fuse.quantize(Array(Double.PositiveInfinity), 1, "int64")(0) ==
      Long.MaxValue.toDouble)
    assert(bits(Fuse.quantize(Array(-0.0), 1, "float32")) ==
      bits(Array(-0.0)))
  }
}
