package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.exprs.sq_dist_e9

/** The product-quantization distance kernel: driver/executor kernel
  * identity (the LUT is built on the driver with sqDistE9Arrays and
  * consumed against executor-side SqDistE9 codes — they must agree bit
  * for bit), subspace offset semantics, and the decimal-exact scale.
  */
class SqDistSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private val rnd = new scala.util.Random(7)
  private def vec(n: Int): Array[Float] =
    Array.fill(n)((rnd.nextFloat() - 0.5f) * 1.2f)

  test("executor kernel agrees with the driver twin, including offsets") {
    import spark.implicits._
    val a = vec(64)
    val subs = (0 until 4).map(m => vec(16))
    val df = Seq(Tuple1(a.toSeq)).toDF("embedding")
    for (m <- 0 until 4) {
      val fromExec = df.select(
        sq_dist_e9($"embedding", typedLit(subs(m).toSeq), m * 16)).head().getLong(0)
      val fromDriver = VectorKernels.sqDistE9Arrays(a, subs(m), m * 16)
      assert(fromExec == fromDriver, s"subspace $m kernel drift")
    }
  }

  test("offset slices match the full-vector distance of the slice") {
    val a = vec(64)
    val b = vec(16)
    val sliced = VectorKernels.sqDistE9Arrays(a.slice(32, 48), b, 0)
    val offset = VectorKernels.sqDistE9Arrays(a, b, 32)
    assert(sliced == offset)
  }

  test("zero distance and known-value scale") {
    val a = vec(64)
    assert(VectorKernels.sqDistE9Arrays(a, a.slice(0, 16), 0) == 0L)
    // (0.5 - 0.25)^2 = 0.0625 exactly representable: 62_500_000 at e9
    assert(VectorKernels.sqDistE9Arrays(
      Array(0.5f), Array(0.25f), 0) == 62500000L)
  }
}
