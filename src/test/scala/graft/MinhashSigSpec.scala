package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** MinhashSig (the one-pass native min-hash signature): output arrays
  * byte-identical to the per-salt md5 HOF chain (`sigExpr` below, the
  * reference formulation), including null-element skipping, the
  * empty-array edge, multi-byte code points, and null propagation. */
class MinhashSigSpec extends SparkSpec {
  import spark.implicits._

  test("signatures match the sigExpr HOF form on randomized arrays") {
    val rnd = new scala.util.Random(17)
    val alphabet = "ab z09.éß€日本語🙂:|"
    val docs = (1 to 300).map { i =>
      val n = rnd.nextInt(40)
      (i, (1 to n).map { _ =>
        val len = rnd.nextInt(12)
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      })
    }
    for (k <- Seq(4, 16)) {
      val df = docs.toDF("id", "shingles")
        .select(col("id"), Dedup.minhashSig(col("shingles"), k).as("fast"),
          expr(MinhashSigSpec.sigExpr("shingles", k)).as("ref"))
      val bad = df.filter(not(col("fast") <=> col("ref"))).collect()
      assert(bad.isEmpty, s"k=$k mismatches: ${bad.take(3).mkString(";")}")
    }
  }

  test("edges: empty array yields k nulls; null elements are skipped; null input propagates") {
    val df = Seq(
      (1, Seq.empty[String]),            // empty → all-null slots
      (2, Seq("")),                      // the [""] empty-text shingle
      (3, Seq("a", "a", "b"))            // duplicates (min is idempotent)
    ).toDF("id", "shingles")
    val both = df.select(col("id"),
      Dedup.minhashSig(col("shingles"), 16).as("fast"),
      expr(MinhashSigSpec.sigExpr("shingles", 16)).as("ref"))
    assert(both.filter(not(col("fast") <=> col("ref"))).isEmpty)
    assert(both.filter(col("id") === 1).select(col("fast"))
      .first().getSeq[String](0).forall(_ == null))
    // null elements: md5 null-propagates and array_min skips nulls in
    // the reference — the expression must agree
    val withNulls = spark.sql(
      "SELECT array('x', CAST(NULL AS STRING), 'y') AS shingles")
    val r = withNulls.select(
      Dedup.minhashSig(col("shingles"), 4).as("fast"),
      expr(MinhashSigSpec.sigExpr("shingles", 4)).as("ref")).first()
    assert(r.getSeq[String](0) == r.getSeq[String](1))
    assert(r.getSeq[String](0).forall(_ != null))
    // null input array → [null × k] in BOTH forms (the HOF's outer
    // transforms run over literal sequences, so the array itself is
    // never null — and banding's concat_ws then still groups
    // null-text docs; the expression must not null-propagate)
    val nr = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS shingles")
      .select(Dedup.minhashSig(col("shingles"), 4).as("fast"),
        expr(MinhashSigSpec.sigExpr("shingles", 4)).as("ref")).first()
    assert(!nr.isNullAt(0) && !nr.isNullAt(1))
    assert(nr.getSeq[String](0) == nr.getSeq[String](1))
    assert(nr.getSeq[String](0).forall(_ == null))
  }
}

object MinhashSigSpec {
  /** k-slot min-hash signature as a SQL HOF expression over an array
    * column: for each salt p in 0..k/4-1, digest every element once,
    * then take the array_min of each of the 4 digest slices. Slot
    * order is p-major: sig[j] = min over elements of slice (j%4) of
    * md5(concat(j div 4, ':', element)). */
  def sigExpr(arrCol: String, k: Int): String =
    s"""flatten(transform(
       |  transform(sequence(0, ${k / 4 - 1}),
       |    p -> transform($arrCol, g -> md5(concat(CAST(p AS STRING), ':', g)))),
       |  hp -> transform(sequence(0, 3),
       |    s -> array_min(transform(hp, h -> substr(h, s * 8 + 1, 8))))))""".stripMargin
}
