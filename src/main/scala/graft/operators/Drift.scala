package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus drift monitoring: which terms changed frequency most between two
  * snapshots of a rolling corpus build — the report an operator reads when
  * a new dump lands ("why did quality scores move? what is this dump full
  * of?") before recipes and filters are re-tuned.
  *
  * Deliberately transcendental-free: the drift metric is the larger of the
  * smoothed relative-rate ratio and its reciprocal (monotone in |log
  * ratio|, so the ranking is the standard log-odds one) — plain IEEE
  * add/divide on integer counts, bitwise reproducible across engines,
  * which keeps the report oracle-exact where an `ln`-based score computed
  * distributed would drift in the last ulp (Spark's `log` is StrictMath).
  *
  * Scale shape: two token explodes with map-side-combined counts
  * (vocabulary-sized output), one vocabulary-sized full-outer join, one
  * tiny scalar aggregate, and a TakeOrderedAndProject top-k — the corpus
  * is scanned once per snapshot and never shuffled. The joined count frame
  * has two consumers (scalar totals + the ranked output), so it is
  * materialized once via an eager [[graft.core.Barriers.cut]] —
  * vocabulary-sized, reclaimed when the result frame is dropped (local
  * blocks by the ContextCleaner; reliable files only under the cleaner
  * conf [[graft.core.Barriers]] names); without it both consumers would
  * re-run the corpus scans.
  */
object Drift {

  /** Top-`topK` terms by frequency drift from `oldDocs` to `newDocs`:
    * (term, cnt_old, cnt_new, ratio, drift) where
    * `ratio = rate_new / rate_old` under additive smoothing over the union
    * vocabulary (`rate = (cnt + alpha) / (total + alpha * |V|)`) and
    * `drift = max(ratio, 1/ratio)`. New-only terms surface through the
    * smoothing floor rather than dividing by zero; ties break on the term.
    */
  def termDrift(oldDocs: DataFrame, newDocs: DataFrame, textCol: String,
      alpha: Double = 0.5, topK: Int = 100): DataFrame = {
    val co = UnigramLm.termCounts(oldDocs, textCol)
      .withColumnRenamed("cnt", "cnt_old")
    val cn = UnigramLm.termCounts(newDocs, textCol)
      .withColumnRenamed("cnt", "cnt_new")
    val joined = co.join(cn, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("cnt_old"), lit(0L)).as("cnt_old"),
        coalesce(col("cnt_new"), lit(0L)).as("cnt_new"))
      .transform(graft.core.Barriers.cut)
    val stats = joined
      .agg(sum(col("cnt_old")).as("t_old"), sum(col("cnt_new")).as("t_new"),
        count(lit(1)).as("v"))
      .head()
    // empty-side totals are legal (first snapshot); smoothing keeps every
    // rate positive as long as the union vocabulary is non-empty
    val (tOld, tNew, v) =
      (if (stats.isNullAt(0)) 0L else stats.getLong(0),
        if (stats.isNullAt(1)) 0L else stats.getLong(1),
        stats.getLong(2))
    val ratio = ((col("cnt_new") + alpha) / (tNew + alpha * v)) /
      ((col("cnt_old") + alpha) / (tOld + alpha * v))
    joined
      .withColumn("ratio", ratio)
      .withColumn("drift", greatest(col("ratio"), lit(1.0) / col("ratio")))
      .orderBy(col("drift").desc, col("term").asc)
      .limit(topK)
  }

  /** One-row Hellinger distance between the two corpora's unigram
    * distributions — the single-number companion to [[termDrift]]'s
    * ranked report: H(P,Q) = sqrt(Σ (√p_i − √q_i)² / 2) ∈ [0, 1], the
    * standard bounded distribution distance for "how different is this
    * dump" monitoring. Chosen over KL/JS divergence DELIBERATELY: sqrt
    * is IEEE-correctly-rounded (bitwise identical in any engine) where
    * ln is not (Spark's distributed `log` is StrictMath, DuckDB's is
    * libm), so Hellinger is oracle-exact while an in-engine KL would
    * drift in the last ulp — the same transcendental-free discipline as
    * [[termDrift]]'s ratio metric. Missing terms take probability 0
    * (√0 = 0); no smoothing is needed.
    *
    * `ordered = true` folds the term sum in term order via one collected
    * vocabulary-sized array (the gate/audit path, partition-independent
    * bit for bit); the default production path is a plain map-side-
    * combined sum — O(1) memory per group at 100M-term vocabularies,
    * reproducible to float-sum arrival order. NULL when either corpus is
    * empty (the distance is undefined against no distribution).
    */
  def hellinger(oldDocs: DataFrame, newDocs: DataFrame, textCol: String,
      ordered: Boolean = false): DataFrame = {
    val co = UnigramLm.termCounts(oldDocs, textCol)
      .withColumnRenamed("cnt", "cnt_old")
    val cn = UnigramLm.termCounts(newDocs, textCol)
      .withColumnRenamed("cnt", "cnt_new")
    val joined = co.join(cn, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("cnt_old"), lit(0L)).as("cnt_old"),
        coalesce(col("cnt_new"), lit(0L)).as("cnt_new"))
    def term(o: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) = {
      val sp = sqrt(o.cast("double") / col("t_old").cast("double"))
      val sq = sqrt(n.cast("double") / col("t_new").cast("double"))
      (sp - sq) * (sp - sq)
    }
    val agg =
      if (ordered)
        joined.agg(
          count(lit(1)).as("n_terms"),
          sum(col("cnt_old")).as("t_old"), sum(col("cnt_new")).as("t_new"),
          sort_array(collect_list(struct(col("term"), col("cnt_old"),
            col("cnt_new")))).as("__t"))
          .withColumn("__s", aggregate(col("__t"), lit(0.0), (acc, x) =>
            acc + term(x.getField("cnt_old"), x.getField("cnt_new"))))
      else
        // production path: the Bhattacharyya identity Σ(√p−√q)² =
        // 2 − 2·Σ√(c_o·c_n)/√(T_o·T_n) needs only THREE map-side-combined
        // sums in one pass (no second scan for totals, no collected array)
        joined.agg(
            count(lit(1)).as("n_terms"),
            sum(col("cnt_old")).as("t_old"), sum(col("cnt_new")).as("t_new"),
            sum(sqrt(col("cnt_old").cast("double") *
              col("cnt_new").cast("double"))).as("__bc"))
          .withColumn("__s", greatest(lit(0.0),
            lit(2.0) - lit(2.0) * col("__bc") /
              sqrt(col("t_old").cast("double") * col("t_new").cast("double"))))
    agg.select(col("n_terms"), col("t_old"), col("t_new"),
      when(col("t_old") > 0 && col("t_new") > 0,
        sqrt(col("__s") / lit(2.0)))
        .otherwise(lit(null).cast("double")).as("hellinger"))
  }
}
