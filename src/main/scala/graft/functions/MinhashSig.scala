package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** minhash_sig(arr, k): the k-slot min-hash signature of a string
  * array — one salted md5 per (salt, element) sliced into four 32-bit
  * slots, exactly the md5-HOF reference (MinhashSigSpec.sigExpr) and
  * chargram sigOf formulation:
  *
  *   sig[j] = min over elements g of substr(md5((j/4) + ":" + g),
  *                                          (j%4)*8 + 1, 8)
  *
  * Output is BIT-IDENTICAL to the HOF form (MinhashSigSpec pins it on
  * randomized input): md5's lowercase hex is order-preserving per
  * byte, so the minimum 8-hex-char slice equals the minimum of the
  * corresponding 4 digest bytes read as an unsigned 32-bit int — the
  * expression tracks k unsigned-int minima and hex-encodes only the k
  * winners. Null elements are skipped (md5 null-propagates and
  * array_min ignores nulls); an empty / all-null input yields k null
  * slots, exactly like array_min over an empty slice list.
  *
  * Why it exists (guide §1.2 step 2 — per-task work): the HOF chain
  * evaluates k/4 interpreted lambda frames per element plus 16 more
  * per document for the slice minima, and allocates a 32-char hex
  * UTF8String per digest plus an 8-char one per slice BEFORE
  * comparing. Signature hashing is the dominant per-row cost of the
  * minhash dedup family (the signature stage measured 9 s → 2.5 s
  * just from 4× fewer digests). This
  * expression walks the element array ONCE, allocates nothing per
  * element beyond the digest's own 16-byte output, and compiles to a
  * single static call inside whole-stage codegen.
  */
object MinhashSig {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".getBytes

  /** Lowercase-hex of one unsigned 32-bit minimum — the only string
    * materialization the signature pays (k per document). */
  private def hex8(v: Long): UTF8String = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) {
      b(i) = hexDigits(((v >>> ((7 - i) * 4)) & 0xF).toInt)
      i += 1
    }
    UTF8String.fromBytes(b)
  }

  /** `arr == null` is VALID input and yields k null slots — the HOF
    * reference form never returns a null array: its outer transforms
    * run over literal sequences, the null input only nulls the inner
    * md5/array_min chain, so a null-text document gets [null × k]
    * (and concat_ws-based banding then still groups such docs). */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val nP = k / 4
    val n = if (arr == null) 0 else arr.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = mdLocal.get()
    // salt prefixes "0:", "1:", ... — tiny, built once per call
    val prefixes = new Array[Array[Byte]](nP)
    var p = 0
    while (p < nP) { prefixes(p) = (p.toString + ":").getBytes; p += 1 }
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val g = arr.getUTF8String(i).getBytes
        p = 0
        while (p < nP) {
          md.reset()
          md.update(prefixes(p))
          md.update(g)
          val d = md.digest()
          var s = 0
          while (s < 4) {
            val v = ((d(4 * s) & 0xFFL) << 24) | ((d(4 * s + 1) & 0xFFL) << 16) |
              ((d(4 * s + 2) & 0xFFL) << 8) | (d(4 * s + 3) & 0xFFL)
            val j = p * 4 + s
            if (v < mins(j)) mins(j) = v
            s += 1
          }
          p += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      out(j) = if (mins(j) == Long.MaxValue) null else hex8(mins(j))
      j += 1
    }
    new GenericArrayData(out)
  }
}

case class MinhashSig(child: Expression, k: Int) extends UnaryExpression {
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  // a null input yields [null × k], never a null array (see compute)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 4 && k % 4 == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input and k a positive multiple " +
        s"of 4, got ${other.catalogString}, k=$k")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    MinhashSig.compute(
      if (v == null) null else v.asInstanceOf[ArrayData], k)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      |${childGen.code}
      |$javaType ${ev.value} = graft.functions.MinhashSig.compute(
      |  ${childGen.isNull} ? null : ${childGen.value}, $k);
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}
