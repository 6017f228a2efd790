package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.{PqAdc, PqEncode, PqExpressions}

/** Native PQ expressions: hand-computed argmin/ADC on a crafted
  * codebook, and interpreted-vs-codegen agreement (the expression
  * evaluates in both modes depending on plan shape — they must
  * match bit-for-bit). */
class PqExprSpec extends SparkSpec {
  import spark.implicits._

  // codebook: subspace m, centroid c = constant vector of value c + m/10
  private val cb: Seq[Seq[Seq[Float]]] =
    (0 until 8).map(m => (0 until 16).map(c => Seq.fill(8)(c + m / 10f)))
  private val flat = PqExpressions.flatten(cb)

  private def encode(v: Seq[Float]) = {
    val df = Seq(Tuple1(v)).toDF("embedding")
    df.select(ColumnBridge.column(
        PqEncode(ColumnBridge.expression(col("embedding")), flat)).as("codes"))
      .head().getSeq[Int](0)
  }

  test("encode picks the nearest centroid per subspace (hand-computed)") {
    // subvector m holds constant value m -> nearest centroid by plain
    // scalar argmin over the codebook values (first-min tie: m=5 sits
    // exactly between centroids 4 and 5 and must pick 4)
    val v = (0 until 8).flatMap(m => Seq.fill(8)(m.toFloat))
    val codes = encode(v)
    val expected = (0 until 8).map { m =>
      (0 until 16).minBy(c => math.pow(m.toDouble - (c + m / 10f), 2))
    }
    assert(codes == expected)
    assert(codes(5) == 4) // the tie case, explicitly
  }

  test("encode tie-breaks to the first minimum") {
    // value 0.55 in subspace 0 sits exactly between centroids 0 (0.0)
    // and 1 (1.0)? 0.55 is nearer 1; use 0.5 for the exact tie -> code 0
    val v = Seq.fill(8)(0.5f) ++ Seq.fill(56)(0f)
    assert(encode(v).head == 0)
  }

  test("adc equals the exact squared distance to reconstructed centroids") {
    val v = (0 until 64).map(_.toFloat / 64)
    val df = Seq(Tuple1(v)).toDF("embedding")
      .select(col("embedding"), ColumnBridge.column(
        PqEncode(ColumnBridge.expression(col("embedding")), flat)).as("codes"))
    val adc = df.select(ColumnBridge.column(PqAdc(
        ColumnBridge.expression(col("embedding")),
        ColumnBridge.expression(col("codes")), flat)).as("d"))
      .head().getDouble(0)
    val codes = df.head().getSeq[Int](1)
    val expected = (0 until 8).flatMap { m =>
      (0 until 8).map { d =>
        val t = v(m * 8 + d).toDouble - cb(m)(codes(m))(d)
        t * t
      }
    }.sum
    assert(math.abs(adc - expected) < 1e-12)
  }

  test("interpreted eval matches codegen output") {
    val rows = (1 to 50).map(i =>
      (i.toLong, (0 until 64).map(d => ((i * 31 + d * 7) % 97).toFloat / 97)))
    val df = rows.toDF("id", "embedding")
    val enc = ColumnBridge.column(
      PqEncode(ColumnBridge.expression(col("embedding")), flat)).as("codes")
    val viaCodegen = df.select(col("id"), enc)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // force the interpreted path by evaluating the expression directly
    val viaEval = rows.map { case (id, v) =>
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.toArray)
      val lit = org.apache.spark.sql.catalyst.expressions.Literal(
        arr, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))
      id -> PqEncode(lit, flat).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq
    }.toMap
    assert(viaCodegen == viaEval)
  }
}
