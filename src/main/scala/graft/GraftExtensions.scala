package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.expressions.{AlignedTokenCount, FloatVecDot, LongArrayMatchFrac, LongSetJaccard, MinHashSig, NgramFreqStats, ShingleHashes, SimHash64, TokenSetHits, Winnow}

/** The engine's catalogue of session extensions, declared once and injected
  * when the session is built ([[graft.core.Sessions.local]]):
  *
  *   - native expressions as SQL functions, so the `spark.sql` surface (and
  *     dbt-style SQL-string models) can call them directly;
  *   - the optimizer rules [[graft.plans.NoBroadcastOverExpansion]] and
  *     [[graft.plans.MvRewrite]];
  *   - the planner strategies of the two native operators,
  *     [[graft.plans.AsOfJoinStrategy]] and
  *     [[graft.plans.TopKPerGroupStrategy]].
  *
  * {{{
  * val spark = graft.core.Sessions.local() // builds withExtensions(new GraftExtensions)
  * spark.sql("SELECT vec_dot(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * A session built elsewhere gets the same catalogue through
  * [[graft.core.Sessions.tune]].
  *
  * Functions: vec_dot(array<float>, array<float>) → double,
  * shingle_hashes(text, n) → array<bigint>, simhash64(text) → bigint,
  * minhash_match_frac(array<bigint>, array<bigint>) → double,
  * minhash_sig(text, n, k) → array<bigint>, winnow(array<bigint>, w) →
  * array<bigint>, ngram_freq_stats(array<string>, n) → struct,
  * token_set_hits(text, array<string>) → int, long_set_jaccard(array<bigint>,
  * array<bigint>) → double, aligned_token_count(text) → int,
  * hll_md5_agg(key) → binary, hll_md5_union_agg(binary) → binary,
  * hll_md5_estimate(binary) → struct(m_used, v_zero, hll_estimate).
  * (NearestCell, WrapMulAdd, BloomAnyContain and
  * CmsEstimateTerm stay Column-only: their parameters are driver-held
  * matrices/sketches a SQL literal can't express.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name, usage),
        builder))
    }
    optimizerRules.foreach(rule => ext.injectOptimizerRule(_ => rule))
    strategies.foreach(strategy => ext.injectPlannerStrategy(_ => strategy))
  }
}

object GraftExtensions {
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - dot product of two float arrays",
      args => FloatVecDot(args(0), args(1))),
    ("simhash64", "simhash64(text) - 64-bit SimHash signature",
      args => SimHash64(args.head)),
    ("shingle_hashes", "shingle_hashes(text, n) - distinct word n-gram hashes",
      args => ShingleHashes(args(0), intLiteralArg(args(1), "shingle_hashes", "n"))),
    ("minhash_match_frac",
      "minhash_match_frac(a, b) - fraction of agreeing signature positions",
      args => LongArrayMatchFrac(args(0), args(1))),
    ("minhash_sig", "minhash_sig(text, n, k) - k-minima MinHash signature over word n-grams",
      args => MinHashSig(args(0), intLiteralArg(args(1), "minhash_sig", "n"),
        intLiteralArg(args(2), "minhash_sig", "k"))),
    ("winnow", "winnow(hashes, w) - distinct sliding-window minima (winnowing fingerprints)",
      args => Winnow(args(0), intLiteralArg(args(1), "winnow", "w"))),
    ("ngram_freq_stats",
      "ngram_freq_stats(tokens, n) - struct(total, n_distinct, max_count, dup_count) of word n-grams",
      args => NgramFreqStats(args(0), intLiteralArg(args(1), "ngram_freq_stats", "n"))),
    ("token_set_hits",
      "token_set_hits(text, words) - count of whitespace tokens present in a constant word array",
      args => TokenSetHits(args(0),
        stringArrayLiteralArg(args(1), "token_set_hits", "words"))),
    ("long_set_jaccard",
      "long_set_jaccard(a, b) - set Jaccard of two bigint-array hash sets",
      args => LongSetJaccard(args(0), args(1))),
    ("aligned_token_count",
      "aligned_token_count(text) - token count under the hashing kernels' tokenizer (space/tab/CR/LF runs)",
      args => AlignedTokenCount(args.head)),
    ("hll_md5_agg",
      "hll_md5_agg(key) - binary md5-parity HLL sketch (1024 registers) of distinct keys",
      args => graft.expressions.HllMd5Agg(args.head)),
    ("hll_md5_union_agg",
      "hll_md5_union_agg(sketch) - register-wise max merge of binary HLL sketches",
      args => graft.expressions.HllMd5UnionAgg(args.head)),
    ("hll_md5_estimate",
      "hll_md5_estimate(sketch) - struct(m_used, v_zero, hll_estimate) read of a binary HLL sketch",
      args => graft.expressions.HllMd5Estimate(args.head)),
    ("kmv_md5_agg",
      "kmv_md5_agg(key, k) - ascending array of the k smallest distinct md5 key hashes (KMV sketch)",
      args => graft.expressions.KmvAgg(args(0),
        intLiteralArg(args(1), "kmv_md5_agg", "k"))),
    ("cms_md5_agg",
      "cms_md5_agg(key, width) - row-major depth x width md5-parity count-min counters of key occurrences",
      args => graft.expressions.CmsMd5Agg(args(0),
        intLiteralArg(args(1), "cms_md5_agg", "width"))))

  /** A function argument that must be a constant array of strings. */
  private def stringArrayLiteralArg(e: Expression, fn: String, arg: String): Seq[String] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a constant string array, got non-foldable ${e.sql}")
    // type check BEFORE eval: array(1, 2) is foldable but its ArrayData
    // holds Integers — getUTF8String would throw a raw ClassCastException,
    // exactly what these helpers exist to prevent
    e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => ()
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument '$arg' must be a constant string array, got " +
            s"${other.simpleString} (${e.sql})")
    }
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map { i =>
          if (a.isNullAt(i))
            throw new IllegalArgumentException(s"$fn: '$arg' must not contain NULL")
          a.getUTF8String(i).toString
        }
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument '$arg' must be a constant string array, got " +
            s"${if (other == null) "NULL" else other.getClass.getSimpleName} (${e.sql})")
    }
  }

  /** A function argument that must be a constant integer (e.g. a shingle
    * width): accepts any foldable integral expression; anything else fails at
    * plan time with a clear message instead of a ClassCastException/NPE.
    */
  private def intLiteralArg(e: Expression, fn: String, arg: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a constant integer, got non-foldable ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument '$arg' must be a constant integer, got " +
            s"${if (other == null) "NULL" else other.getClass.getSimpleName} (${e.sql})")
    }
  }

  /** Optimizer rules: the engine-level guard against stats-blind broadcasts
    * of exploded subtrees (see the rule's scaladoc for the failure mode),
    * and the maintained-view rewrite (a no-op until a view is registered).
    */
  private[graft] val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.NoBroadcastOverExpansion, graft.plans.MvRewrite)

  /** Planner strategies of the native operators behind
    * [[graft.operators.AsOfJoin.joinAsOf]] and
    * [[graft.operators.TopK.perGroupNative]].
    */
  private[graft] val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.AsOfJoinStrategy, graft.plans.TopKPerGroupStrategy)

  /** True when `spark` already has the catalogue. The last function in the
    * list is the sentinel: the catalogue is installed all at once, at build
    * time or by [[graft.core.Sessions.tune]].
    */
  private[graft] def installed(spark: SparkSession): Boolean =
    spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier(functions.last._1))
}
