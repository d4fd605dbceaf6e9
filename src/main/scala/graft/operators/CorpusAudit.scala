package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Pre-training corpus audits beyond the per-source data card
  * ([[CorpusCard]]): what a context window throws away, whether a split
  * is independent of the slicing dimension, and how lexically repetitive
  * each slice is. Every report here is a map-side-combining aggregate to
  * group cardinality with integral sums and a fixed double chain at the
  * end — one corpus scan each, oracle-exact, partition-order-free.
  */
object CorpusAudit {

  private def tokCount(textCol: String): Column =
    TextFunctions.tokenCountOrZero(col(textCol))

  /** Context-window truncation loss per group: training at a fixed
    * `contextLen` silently drops every token past position L of each
    * document, and the loss concentrates in specific sources (books lose,
    * tweets don't) — this is the table that says WHERE. Per group:
    * n_docs, docs_truncated, total_tokens, kept_tokens (Σ min(n, L)),
    * lost_tokens, lost_frac.
    */
  def truncationAudit(docs: DataFrame, groupCols: Seq[String],
      textCol: String, contextLen: Int): DataFrame = {
    require(contextLen > 0, s"contextLen must be > 0, got $contextLen")
    val n = tokCount(textCol)
    docs
      .select(groupCols.map(col) :+ n.as("__n"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__n") > contextLen, 1L).otherwise(0L))
          .as("docs_truncated"),
        sum(col("__n")).as("total_tokens"),
        sum(least(col("__n"), lit(contextLen.toLong))).as("kept_tokens"),
        sum(greatest(col("__n") - contextLen, lit(0L))).as("lost_tokens"))
      .withColumn("lost_frac",
        col("lost_tokens").cast("double") /
          nullif(col("total_tokens"), lit(0L)).cast("double"))
  }

  /** Pearson chi-square independence audit of a split assignment against
    * a slicing dimension — the check that a train/holdout hash split did
    * not accidentally correlate with source (or language, or time
    * bucket), which would make holdout loss unrepresentative. Returns the
    * contingency cells (split, group, observed, expected) and the
    * statistic row is derivable by the caller; [[chiSquare]] condenses it.
    * Zero-observed cells are materialized (they still carry expected
    * mass) via a broadcast cross of the two margin frames — margins are
    * category-cardinality driver-class frames, never the corpus.
    */
  def contingency(df: DataFrame, splitCol: String, groupCol: String): DataFrame = {
    // ONE corpus scan: margins and the grand total re-aggregate the
    // cells frame (category-cardinality), pinned so the three consumers
    // don't each recompute the scan
    val cells = graft.core.Materialize.pin(
      df.groupBy(col(splitCol).as("split"), col(groupCol).as("grp"))
        .agg(count(lit(1)).as("observed")))
    val nRow = cells.agg(sum(col("observed"))).first()
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val rowTot = cells.groupBy("split").agg(sum(col("observed")).as("__rn"))
    val colTot = cells.groupBy("grp").agg(sum(col("observed")).as("__cn"))
    // null-SAFE rejoin: a NULL split/group value is a real category (its
    // margin mass is in __rn/__cn); a plain equi-join would orphan its
    // observed count while keeping its expected mass, corrupting chi2
    val obs = cells.select(col("split").as("__s2"), col("grp").as("__g2"),
      col("observed"))
    rowTot.crossJoin(broadcast(colTot))
      .join(obs,
        col("split") <=> col("__s2") && col("grp") <=> col("__g2"), "left")
      .select(col("split"), col("grp"),
        coalesce(col("observed"), lit(0L)).as("observed"),
        (col("__rn").cast("double") * col("__cn").cast("double") /
          lit(n.toDouble)).as("expected"))
  }

  /** One-row (n, dof, chi2) over a [[contingency]] frame. The cell terms
    * `(O−E)²/E` are summed IN (split, grp) ORDER via the collected-array
    * fold (cells-cardinality, same discipline as [[Calibration.ece]]), so
    * the double total is partition-independent and oracle-replayable with
    * an ordered list_sum. NULL categories (which [[contingency]] supports
    * as real cells) are handled explicitly: the fold key carries an
    * is-null flag so NULLs sort LAST — matching DuckDB's default NULLS
    * LAST in `list(term ORDER BY split, grp)`, where Spark's bare
    * sort_array would put them FIRST — and dof counts a NULL category as
    * a category (bare countDistinct would silently drop it).
    */
  def chiSquare(cont: DataFrame): DataFrame =
    cont.agg(
        sum(col("observed")).as("n"),
        countDistinct(struct(col("split").isNull, col("split"))).as("__r"),
        countDistinct(struct(col("grp").isNull, col("grp"))).as("__c"),
        sort_array(collect_list(struct(
          col("split").isNull.as("__sn"), col("split").as("split"),
          col("grp").isNull.as("__gn"), col("grp").as("grp"),
          ((col("observed").cast("double") - col("expected")) *
            (col("observed").cast("double") - col("expected")) /
            col("expected")).as("term")))).as("__t"))
      .select(col("n"),
        ((col("__r") - 1) * (col("__c") - 1)).as("dof"),
        aggregate(col("__t"), lit(0.0),
          (acc, t) => acc + t.getField("term")).as("chi2"))

  /** Lexical diversity per group: pooled type-token ratio (Σ per-doc
    * distinct tokens / Σ tokens — exact integer sums, unlike a mean of
    * per-doc ratios which would be a partition-ordered double fold) and
    * the count of docs under `lowTtr` (the boilerplate/repetition band).
    * Per-doc TTR is computed once per row; only the group keys and three
    * longs ever shuffle.
    */
  def lexicalDiversity(docs: DataFrame, groupCols: Seq[String],
      textCol: String, lowTtr: Double = 0.3): DataFrame = {
    val toks = tokCount(textCol)
    val types = when(col(textCol).isNull ||
        length(trim(col(textCol))) === 0, lit(0L))
      .otherwise(size(array_distinct(TextFunctions.tokens(col(textCol)))))
      .cast("long")
    val ttr = types.cast("double") / nullif(toks, lit(0L)).cast("double")
    docs
      .select(groupCols.map(col) ++ Seq(toks.as("__n"), types.as("__ty"),
        ttr.as("__ttr")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ty")).as("types"),
        sum(col("__n")).as("tokens"),
        sum(when(col("__ttr") < lowTtr, 1L).otherwise(0L)).as("low_ttr_docs"))
      .withColumn("pooled_ttr",
        col("types").cast("double") /
          nullif(col("tokens"), lit(0L)).cast("double"))
  }

  /** Per-group distinct-n diversity (Li et al., NAACL'16 "A Diversity-
    * Promoting Objective"): for n = 1..maxN, the fraction of n-gram
    * OCCURRENCES that are distinct — the standard audit for synthetic /
    * model-generated corpora, where mode collapse shows up as a
    * distinct-2/3 crater long before exact dedup fires (every generation
    * is unique; its phrases are not). Long-format output so a recipe gate
    * thresholds any n.
    *
    * One corpus scan: every n builds its shingle OCCURRENCE HASHES inside
    * one projection (one compiled ShingleHashes pass per n — no gram
    * string ever materializes), concatenated as (n, hash64) structs, ONE
    * explode, then a map-side-combined count + exact distinct per
    * (group, n). The 8-byte hash space, not the corpus text, is what
    * shuffles — the same key discipline (and the same 2^-64 collision
    * noise floor) as the dedup/overlap shingle operators.
    */
  def ngramDiversity(docs: DataFrame, groupCols: Seq[String],
      textCol: String, maxN: Int = 3, minN: Int = 1): DataFrame = {
    require(minN >= 1 && maxN >= minN,
      s"need 1 <= minN <= maxN, got minN=$minN maxN=$maxN")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // only the REQUESTED sizes are shingled: a caller wanting bigrams
    // alone must not pay for building and exploding every unigram struct.
    // Grams ride as the one-pass kernel's 64-bit OCCURRENCE hashes
    // (ShingleHashes distinct=false — same hashAlignedTokens stream), not
    // materialized strings: the distinct-count exchange then carries 8
    // bytes per gram instead of the gram text and the partial-aggregate
    // distinct sets hold longs (guide §2.3 "narrower types", §5 spill) —
    // identical counts up to the 2^-64 collision noise floor every
    // shingle-hash operator in this package already accepts.
    val perN = (minN to maxN).map { n =>
      transform(
        ColumnBridge.column(graft.expressions.ShingleHashes(
          ColumnBridge.expression(col(textCol)), n, distinct = false)),
        h => struct(lit(n).as("n"), h.as("gram")))
    }
    docs
      .select(groupCols.map(col) :+
        explode(concat(perN: _*)).as("__g"): _*)
      .groupBy(groupCols.map(col) :+ col("__g.n").as("n"): _*)
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("__g.gram")).as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast("double") / col("n_grams").cast("double"))
  }
}
