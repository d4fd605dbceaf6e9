package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Collocation detection by pointwise lift — which adjacent word pairs
  * occur together far more than their unigram frequencies predict ("new
  * york", "machine learning"). Lift is PMI without the logarithm:
  * p(ab) / (p(a)·p(b)) with p(ab) = c(ab)/B over adjacent-bigram mass and
  * p(w) = c(w)/T over token mass — the standard first pass for building
  * multi-word vocabulary entries and for spotting templated/boilerplate
  * phrase inflation in a crawl. The log is deliberately omitted: ranking
  * is monotone in lift, and dropping `ln` keeps the whole score a fixed
  * IEEE multiply/divide dag two engines compute bitwise-identically (the
  * same transcendental-avoidance contract as temperatureMixture).
  *
  * Scale shape: unigram and bigram tallies are map-side-combining
  * aggregates whose traffic is VOCABULARY-sized, not corpus-sized; the two
  * count lookups join on the word key (broadcast when the vocab is small,
  * hash otherwise — AQE's call); totals ride along as broadcast single-row
  * frames. Nothing touches row text after the explode.
  */
object Collocations {

  /** (a, b, c_ab, c_a, c_b, lift) for adjacent bigrams with
    * c_ab ≥ `minCount` (rarer pairs have noise-dominated lift — the
    * standard support cutoff).
    */
  def bigramLift(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    // the tokenized corpus feeds the unigram tally, the bigram tally and
    // the bigram total (shared: three concurrent stages); the unigram
    // counts feed their total and both join sides, but they are a
    // vocabulary-sized aggregate over the filled tokens, so a lazy pin is
    // enough — a recompute re-reads blocks, it never re-tokenizes
    val toks = graft.core.Materialize.share(
      df.select(TextFunctions.tokens(col(textCol)).as("t")))
    val uni = graft.core.Materialize.pin(toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))
    val totalT = uni.agg(sum(col("c")).as("__T"))
    val bi = toks
      .select(explode(TextFunctions.shinglesOfTokens(col("t"), 2)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .withColumn("a", substring_index(col("s"), " ", 1))
      .withColumn("b", substring_index(col("s"), " ", -1))
    // bigram total over the UNFILTERED mass (p(ab) is a corpus probability,
    // not a probability within the support-filtered set)
    val totalB = toks
      .select((greatest(size(col("t")) - 1, lit(0))).cast("long").as("nb"))
      .agg(sum(col("nb")).as("__B"))
    bi
      .join(uni.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(totalT)).crossJoin(broadcast(totalB))
      .withColumn("lift",
        (col("c_ab").cast("double") * col("__T").cast("double")
          * col("__T").cast("double"))
          / (col("__B").cast("double") * col("c_a").cast("double")
            * col("c_b").cast("double")))
      .select("a", "b", "c_ab", "c_a", "c_b", "lift")
  }
}
