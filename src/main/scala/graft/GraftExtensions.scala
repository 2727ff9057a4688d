package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.expressions._

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL FUNCTIONS, so they are callable from
  * `spark.sql(...)` — including the config-driven `sql` transform
  * plugin — not only from the Scala Column API:
  *
  *   SELECT simhash64(split(text, ' ')) FROM docs
  *   SELECT sorted_long_jaccard(a, b) ...
  *
  * Install via `.withExtensions(new GraftExtensions)` (done by
  * [[graft.core.Session]]) or externally with
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the standard
  * mechanism for shipping engine extensions to an existing cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  /** Exact-arity guard: silently ignoring extra arguments would let
    * `simhash64(tokens, 5)` run with the 5 discarded, and missing
    * arguments would die with an opaque index error. */
  private def arity(fn: String, n: Int, usage: String)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$fn expects $n argument(s), got ${args.length}; usage: $usage")
      build(args)
    }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: the point-in-interval join's logical
    // node is planned by a custom strategy (extension point (c) —
    // LogicalPlan + SparkStrategy + SparkPlan); the strategy declines
    // every other node, leaving normal planning untouched
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    // ...and an optimizer rule so the PLAIN SQL/DataFrame BETWEEN
    // spelling is rewritten onto that operator (conservatively — see
    // IntervalJoinRewrite's eligibility list)
    ext.injectOptimizerRule(_ => graft.plans.IntervalJoinRewrite)
    // the plan fence over expensive derived columns: planned as its
    // child, and crossed only by filters on columns it does not derive
    ext.injectPlannerStrategy(_ => graft.plans.FenceStrategy)
    ext.injectOptimizerRule(_ => graft.plans.FencePushdown)

    def inject(name: String, n: Int, usage: String)(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage),
        arity(name, n, usage)(build)))

    inject("simhash64", 1,
      "simhash64(tokens) - 64-bit SimHash of an array<string>")(
      args => SimHash64(args.head))

    inject("minhash_signature64", 3,
      "minhash_signature64(text, shingle_k, num_hashes) - MinHash signature array<long>")(
      args => MinHashSignature64(args.head,
        intArg(args(1), "minhash_signature64", 1),
        intArg(args(2), "minhash_signature64", 2)))

    inject("char_shingles", 2,
      "char_shingles(text, k) - distinct character k-shingles")(
      args => CharShingles(args.head, intArg(args(1), "char_shingles", 1)))

    inject("top_ngram_coverage", 2,
      "top_ngram_coverage(text, n) - char coverage of the dominant word n-gram")(
      args => TopNgramCoverage(args.head, intArg(args(1), "top_ngram_coverage", 1)))

    inject("sorted_long_jaccard", 2,
      "sorted_long_jaccard(a, b) - exact Jaccard of two SORTED array<long>")(
      args => SortedLongJaccard(args.head, args(1)))

    inject("lane_agreement", 2,
      "lane_agreement(sig_a, sig_b) - fraction of agreeing minhash lanes")(
      args => LaneAgreement(args.head, args(1)))

    inject("hyperplane_signature64", 2,
      "hyperplane_signature64(vec, planes) - random-hyperplane LSH bucket of array<double>")(
      args => HyperplaneSignature64(args.head,
        intArg(args(1), "hyperplane_signature64", 1)))

    inject("vec_dot", 2,
      "vec_dot(a, b) - dot product of two array<double>")(
      args => VectorKernels.DotProductDouble(args.head, args(1)))

    inject("vec_l2_normalize", 1,
      "vec_l2_normalize(a) - L2-normalized copy of an array<double>")(
      args => VectorKernels.L2NormalizeDouble(args.head))

    inject("zorder_code", 2,
      "zorder_code(dims, bits) - Morton interleave of array<int> bucket indices")(
      args => ZOrderCode(args.head, args(1)))

    inject("char_entropy", 1,
      "char_entropy(text) - Shannon entropy (bits/char) of the char distribution")(
      args => CharEntropy(args.head))

    inject("sorted_bucket", 2,
      "sorted_bucket(v, boundaries) - equi-depth bucket of v against sorted array<double>")(
      args => SortedBucket(args.head, args(1)))

    inject("hilbert_code", 2,
      "hilbert_code(dims, bits) - Hilbert-curve index of k>=2 array<int> bucket indices")(
      args => HilbertCode(args.head, args(1)))
  }
}
