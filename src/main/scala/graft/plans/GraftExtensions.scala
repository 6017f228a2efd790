package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{TopKScores, VecCosine, VecDot, VecSignBucket}

/** Engine extension point, wired via `spark.sql.extensions`
  * (GraftSession sets it). Registers the native vector expressions so
  * they are first-class SQL functions — usable from `spark.sql`, the
  * DataFrame `expr(...)` surface, and views, with full whole-stage
  * codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      // (className, db, name, usage, arguments, examples, note, group,
      // since, deprecated, source): the same empty fields the
      // deprecated five-argument form fills in
      new ExpressionInfo(classOf[VecDot].getName, null, name, usage,
        "", "", "", "", "", "", "")
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float/double array columns"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float/double array columns"),
      (args: Seq[Expression]) => VecCosine(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_sign_bucket"),
      info("vec_sign_bucket",
        "vec_sign_bucket(emb, dim, nPlanes, offset) - random-hyperplane LSH sign " +
          "signature as an nPlanes-char '0'/'1' string; plane matrix held as one " +
          "reference object instead of nPlanes*dim inlined literals"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          s"vec_sign_bucket requires 4 arguments (emb, dim, nPlanes, offset); got ${args.length}")
        def intLit(i: Int, name: String): Int = args(i) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue
          case other => throw new IllegalArgumentException(
            s"vec_sign_bucket: $name must be an integer literal, got ${other.sql}")
        }
        VecSignBucket(args(0), intLit(1, "dim"),
          intLit(2, "nPlanes"), intLit(3, "offset"))
      }))
    ext.injectFunction((
      FunctionIdentifier("topk_scores"),
      info("topk_scores",
        "topk_scores(item, score, k) - per-group top-k as a partial aggregate (bounded heaps, no window sort)"),
      (args: Seq[Expression]) => TopKScores(args(0), args(1), args(2))))
    ext.injectFunction((
      FunctionIdentifier("jaccard_sorted_ge"),
      info("jaccard_sorted_ge",
        "jaccard_sorted_ge(a, b, tau) - exact Jaccard of two sorted-distinct " +
          "int arrays when >= tau, else -1.0 (early-exit merge; tau a literal > 0). " +
          "CALLER CONTRACT: arrays must be sorted ascending with distinct " +
          "elements - unsorted or duplicated input yields an unspecified " +
          "result. A null element yields NULL."),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"jaccard_sorted_ge requires 3 arguments (a, b, tau); got ${args.length}")
        val tau = args(2) match {
          // SQL fractional literals arrive as Decimal (not a
          // java.lang.Number subclass) — unwrap both shapes
          case e if e.foldable => e.eval() match {
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case n: Number => n.doubleValue
            case other => throw new IllegalArgumentException(
              s"jaccard_sorted_ge: tau must be numeric, got $other")
          }
          case other => throw new IllegalArgumentException(
            s"jaccard_sorted_ge: tau must be a numeric literal, got ${other.sql}")
        }
        graft.functions.SortedJaccardGe(args(0), args(1), tau)
      }))
    ext.injectFunction((
      FunctionIdentifier("char_ngrams"),
      info("char_ngrams",
        "char_ngrams(t, n) - all length-n character windows of t in position " +
          "order (one O(len) pass; a string shorter than n chars yields one " +
          "element holding the whole string, matching substr(t, 1, n)); n a " +
          "positive integer literal"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"char_ngrams requires 2 arguments (t, n); got ${args.length}")
        val n = args(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue
          case other => throw new IllegalArgumentException(
            s"char_ngrams: n must be an integer literal, got ${other.sql}")
        }
        graft.functions.CharNgrams(args(0), n)
      }))
  }
}
