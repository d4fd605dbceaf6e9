package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The GraftExtensions catalogue: custom expressions surfaced as SQL
  * functions, and the whole catalogue installed either at session build time
  * (Sessions.local, withExtensions) or once on a foreign session
  * (Sessions.tune).
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  test("vec_dot is callable from SQL and matches the fold") {
    val got = spark.sql(
      "SELECT vec_dot(array(cast(1.5 as float), cast(2.0 as float)), " +
        "array(cast(2.0 as float), cast(0.5 as float))) AS d")
      .head.getDouble(0)
    assert(got == 1.5 * 2.0 + 2.0 * 0.5)
  }

  test("simhash64 and shingle_hashes run from SQL") {
    val row = spark.sql(
      "SELECT simhash64('spark native engine') AS sh, " +
        "size(shingle_hashes('a b c d', 3)) AS n").head
    assert(row.getLong(0) != 0L)
    assert(row.getInt(1) == 2) // 'a b c', 'b c d'
  }

  test("shingle_hashes validates its width argument at plan time") {
    // BIGINT literal: accepted via checked integral conversion
    assert(spark.sql("SELECT size(shingle_hashes('a b c d', 3L)) AS n")
      .head.getInt(0) == 2)
    // non-foldable (column reference) and non-integral types: clear plan-time
    // error, not a ClassCastException on the executor
    val nonConst = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a b', n) FROM (SELECT 3 AS n)").collect()
    }
    assert(nonConst.getMessage.contains("constant integer"), nonConst.getMessage)
    val wrongType = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a b', 'three')").collect()
    }
    assert(wrongType.getMessage.contains("constant integer"), wrongType.getMessage)
  }

  test("vec_dot length mismatch yields null even on non-nullable literals") {
    // vec_dot introduces nulls itself; without `nullable = true` the
    // optimizer's NullPropagation would fold this IS NULL to false
    assert(spark.sql(
      "SELECT vec_dot(array(cast(1.0 as float)), " +
        "array(cast(1.0 as float), cast(2.0 as float))) IS NULL AS n")
      .head.getBoolean(0))
  }

  test("string-typed inputs are enforced at analysis (ExpectsInputTypes)") {
    val e = intercept[Exception] {
      spark.sql("SELECT simhash64(array(1, 2))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"), e.getMessage)
  }

  test("minhash_match_frac computes agreement from SQL") {
    val got = spark.sql(
      "SELECT minhash_match_frac(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 7L)) AS f")
      .head.getDouble(0)
    assert(got == 0.5)
  }

  test("minhash_sig, winnow, ngram_freq_stats and token_set_hits run from SQL") {
    val row = spark.sql(
      "SELECT size(minhash_sig('a b c d e', 3, 16)) AS sig_k, " +
        "winnow(array(9L, 3L, 7L, 5L, 8L), 3) AS fps, " +
        "ngram_freq_stats(array('a', 'b', 'a', 'b'), 2) AS st, " +
        "token_set_hits('the cat and the hat', array('the', 'and')) AS hits").head
    assert(row.getInt(0) == 16)
    assert(row.getSeq[Long](1) == Seq(3L, 5L)) // window minima, first-seen order
    val st = row.getStruct(2)
    assert(st.getLong(0) == 3L && st.getLong(2) == 2L) // 3 bigrams, "a b" twice
    assert(row.getInt(3) == 3)
  }

  test("long_set_jaccard computes set overlap from SQL") {
    val row = spark.sql(
      "SELECT long_set_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j, " +
        "long_set_jaccard(array(1L), array(9L)) AS disjoint").head
    assert(row.getDouble(0) == 0.5 && row.getDouble(1) == 0.0)
  }

  test("token_set_hits rejects a non-constant word array at plan time") {
    val e = intercept[Exception] {
      spark.sql("SELECT token_set_hits('a b', ws) FROM (SELECT array('a') AS ws)").collect()
    }
    assert(e.getMessage.contains("constant string array"), e.getMessage)
    // constant but wrongly-typed array: clean plan-time error, not a raw
    // ClassCastException from getUTF8String over Integers
    val wrongType = intercept[Exception] {
      spark.sql("SELECT token_set_hits('a b', array(1, 2))").collect()
    }
    assert(wrongType.getMessage.contains("constant string array"), wrongType.getMessage)
  }

  test("winnow null contract from SQL: null element → null at every length") {
    val row = spark.sql(
      "SELECT winnow(array(CAST(NULL AS BIGINT), 1L), 3) AS short_corrupt, " +
        "winnow(array(CAST(NULL AS BIGINT), 1L, 2L, 4L), 3) AS long_corrupt, " +
        "winnow(array(9L, 1L), 3) AS short_clean").head
    assert(row.isNullAt(0) && row.isNullAt(1)) // corrupt is null regardless of w
    assert(row.getSeq[Long](2) == Seq.empty) // short-but-clean is an empty sketch
  }

  /** A fresh session on the shared context, built with or without the
    * extensions class; clears default/active so getOrCreate actually
    * constructs one, and restores them afterwards.
    */
  private def withFreshSession[T](extensions: Boolean)(f: SparkSession => T): T = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val b = SparkSession.builder().master("local[2]")
      f((if (extensions) b.withExtensions(new GraftExtensions) else b).getOrCreate())
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("withExtensions wires the same registry at session build time") {
    withFreshSession(extensions = true) { s2 =>
      assert(s2.sql("SELECT vec_dot(array(cast(1.0 as float)), array(cast(3.0 as float)))")
        .head.getDouble(0) == 3.0)
    }
  }

  test("a Sessions.local session plans through injected extensions only") {
    def experimental = (spark.experimental.extraOptimizations,
      spark.experimental.extraStrategies)
    assert(experimental == ((Nil, Nil)))
    graft.core.Sessions.tune(spark)
    assert(experimental == ((Nil, Nil)))
  }

  test("Sessions.tune installs the whole catalogue on a plain session") {
    withFreshSession(extensions = false) { s =>
      import s.implicits._
      assert(!GraftExtensions.installed(s))
      graft.core.Sessions.tune(s)
      assert(s.sql("SELECT simhash64('spark native engine')").head.getLong(0) != 0L)
      assert(s.experimental.extraOptimizations ==
        Seq(graft.plans.NoBroadcastOverExpansion, graft.plans.MvRewrite))
      val top = graft.operators.TopK.perGroupNative(
        Seq((1, 5.0, 1L), (1, 7.0, 2L), (2, 1.0, 3L)).toDF("g", "o", "t"), "g", "o", "t", 1)
      assert(top.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      assert(top.select("t").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
      val asOf = graft.operators.AsOfJoin.joinAsOf(
        Seq((1, 10L)).toDF("k", "ts"), Seq((1, 5L, "x")).toDF("rk", "rts", "v"),
        "k", "ts", "rk", "rts")
      assert(asOf.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      assert(asOf.select("v").as[String].collect().toSeq == Seq("x"))
    }
  }

  test("a second Sessions.tune adds nothing and re-sets no conf") {
    withFreshSession(extensions = false) { s =>
      graft.core.Sessions.tune(s)
      def state = (s.experimental.extraOptimizations, s.experimental.extraStrategies,
        s.catalog.listFunctions().count())
      val once = state
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      graft.core.Sessions.tune(s)
      assert(state == once)
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "false")
    }
  }
}
