package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.TextFunctions

/** Unigram language-model perplexity scoring — the CCNet-style "how much
  * does this text look like the reference corpus" quality signal (Wenzek et
  * al., LREC'20 score documents with an LM and filter/bucket by perplexity;
  * the unigram form keeps the arithmetic exactly reproducible while the
  * pipeline shape — train on a reference corpus, score any corpus — is the
  * same as the 5-gram KenLM deployment).
  *
  * Two scoring paths with one contract (mean negative log-likelihood per
  * document, natural log):
  *
  *  - [[scoreBroadcast]]: the trained log-prob table rides inside a codegen
  *    kernel ([[graft.expressions.TokenWeightSum]]) — zero shuffle, one
  *    corpus scan, and the per-document sum folds in token order, so the
  *    result is bit-reproducible (and DuckDB-verifiable). Vocabulary is
  *    broadcast-class driver state; right for the ≤ millions-of-terms
  *    lexicons a unigram LM actually has.
  *  - [[scoreJoin]]: explode + hash join + re-aggregate — no driver-side
  *    vocabulary at all, for when the table outgrows a broadcast. Same
  *    score up to float re-association (partition-arrival sum order),
  *    which is why the gate pins the broadcast path and the spec bounds
  *    the join path against it.
  */
object UnigramLm {

  /** Token unigram counts: (term, cnt). One explode (projection, no
    * shuffle) + one map-side-combined groupBy. Tokenized through
    * [[TextFunctions.hashAlignedTokens]] — the SAME rule as the scoring
    * kernel ([[graft.expressions.TokenWeightSum]]), so the vocabulary the
    * LM trains on is exactly the token stream it later scores (a \s+
    * split would emit empty artifacts and break on \f/\x0B where the
    * kernel does not). This is all [[collectLm]] needs; [[train]] layers
    * the distributed log-probs on top for the join path.
    */
  def termCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.hashAlignedTokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** Trained LM with corpus-relative log-probabilities:
    * (term, cnt, logp = ln(cnt / total)); the total joins back as a
    * broadcast single row. The counts frame backs both the total aggregate
    * and the output projection, so it is pinned (vocabulary-sized —
    * broadcast-class, not corpus-class) rather than exploded twice. The
    * distributed `logp` uses Spark's ln for [[scoreJoin]]-scale use;
    * [[collectLm]] recomputes it on the driver for the bit-reproducible
    * broadcast path.
    */
  def train(docs: DataFrame, textCol: String): DataFrame = {
    val counts = graft.core.Materialize.pin(termCounts(docs, textCol))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("term"), col("cnt"),
        log(col("cnt").cast("double") / col("total").cast("double")).as("logp"))
  }

  /** Collect a trained LM ([[train]] or just [[termCounts]]) to driver
    * state: (terms, logps) aligned, plus the OOV log-prob floor
    * ln(0.5 / total) — half a count, the standard additive-smoothing floor
    * for unseen tokens. An empty LM floors against total = 1 (every token
    * OOV at ln 0.5) instead of degenerating to ±Infinity.
    */
  def collectLm(lm: DataFrame): (Seq[String], Seq[Double], Double) = {
    val rows = lm.select(col("term"), col("cnt")).collect()
    val total = math.max(rows.iterator.map(_.getLong(1)).sum, 1L).toDouble
    val terms = rows.map(_.getString(0)).toSeq
    // driver-side Math.log: bitwise-equal to DuckDB ln on these inputs
    // (verified), unlike StrictMath-backed distributed ln
    val logps = rows.map(r => math.log(r.getLong(1) / total)).toSeq
    (terms, logps, math.log(0.5 / total))
  }

  /** Mean negative log-likelihood per document via the broadcast kernel:
    * (idCol, n_tokens, nll). Zero shuffle — a single projection pass.
    * `n_tokens` counts through [[TextFunctions.hashAlignedTokens]] — the
    * kernel's own tokenizer — so the mean divides by exactly the number
    * of weights the kernel summed (a trim/\s+ count diverges on
    * leading-\t/\n and \f/\x0B documents and would skew their nll).
    * Documents the kernel sees zero tokens in (empty/whitespace-only) are
    * unscorable and are dropped — scoring them would hand junk documents
    * a perfect nll = 0 (and the head perplexity bucket).
    */
  def scoreBroadcast(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], logps: Seq[Double], oovLogP: Double): DataFrame = {
    // one broadcast per trained model: executors materialize the lexicon
    // map once; tasks carry a handle instead of a vocabulary-sized closure
    val table = graft.expressions.TokenWeightSum
      .broadcastTable(docs.sparkSession, terms, Seq(logps))
    docs.select(col(idCol),
        TextFunctions.hashAlignedTokenCount(col(textCol)).cast("long").as("n_tokens"),
        ColumnBridge.column(graft.expressions.TokenWeightSum(
          ColumnBridge.expression(col(textCol)), table, 0, oovLogP))
          .as("__lpsum"))
      .filter(col("n_tokens") > 0)
      .select(col(idCol), col("n_tokens"),
        (-col("__lpsum") / col("n_tokens")).as("nll"))
  }

  /** Join-path scoring for beyond-broadcast vocabularies: explode tokens,
    * hash-join the LM table, re-aggregate per document. OOV tokens take
    * `oovLogP` via the left join's null branch. Token stream is the same
    * [[TextFunctions.hashAlignedTokens]] as [[termCounts]]/the kernel;
    * zero-token documents explode to no rows and drop naturally — the
    * same unscorable-row contract as [[scoreBroadcast]].
    */
  def scoreJoin(docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, oovLogP: Double): DataFrame =
    docs.select(col(idCol),
        explode(TextFunctions.hashAlignedTokens(col(textCol))).as("term"))
      .join(lm.select(col("term"), col("logp")), Seq("term"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("logp"), lit(oovLogP))).as("__lpsum"))
      .select(col(idCol), col("n_tokens"),
        (-col("__lpsum") / col("n_tokens")).as("nll"))

  /** [[scoreJoin]] with the kernel's DETERMINISTIC summation order: tokens
    * carry their position through the join, and each document's log-probs
    * fold left-to-right over the position-sorted array — bit-identical to
    * [[scoreBroadcast]] for the same log-prob table, on any partitioning
    * (a plain `sum` adds in partition-arrival order and drifts ulps run to
    * run). The price is one collect_list of (pos, logp) per document
    * before the fold — document-length-bounded memory per group, vs the
    * streaming sum's O(1) — the right trade whenever scores feed threshold
    * cuts or cross-engine audits, where last-ulp drift can flip boundary
    * documents. q122 gates this path against the oracle exactly.
    */
  def scoreJoinOrdered(docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, oovLogP: Double): DataFrame =
    docs.select(col(idCol),
        posexplode(TextFunctions.hashAlignedTokens(col(textCol))))
      .toDF(idCol, "pos", "term")
      .join(lm.select(col("term"), col("logp")), Seq("term"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("logp"), lit(oovLogP)).as("logp")))),
          lit(0.0),
          (acc, x) => acc + x.getField("logp")).as("__lpsum"))
      .select(col(idCol), col("n_tokens"),
        (-col("__lpsum") / col("n_tokens")).as("nll"))
}
