package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BM25 ranked retrieval (Robertson & Zaragoza, FnTIR 2009) — the lexical
  * search baseline every corpus tool reaches for: score(q, d) =
  * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·|d|/avgdl)), idf(t) =
  * ln((N − df + 0.5)/(df + 0.5) + 1). Complements the dense-vector side
  * ([[Similarity]]/[[IvfIndex]]) with the sparse ranking a hybrid
  * retrieval stack fuses against, and [[TfIdf]] (corpus analytics weights)
  * with an actual query-scoring surface.
  *
  * Reproducibility contract (the [[UnigramLm.collectLm]] pattern): the
  * query set is tiny, so every log runs on the DRIVER via `Math.log`
  * (bitwise-equal to an oracle's `ln`; Spark's distributed `log` is
  * StrictMath and may differ in the last ulp) and rides into the plan as
  * a literal; the per-document sum folds in sorted term order so no
  * partition order can reorder float addition.
  *
  * Scale shape: corpus stats are one aggregate; document frequencies for
  * the query terms are a filtered explode (query-vocabulary-sized
  * result); term frequencies another filtered explode whose groupBy
  * carries only (doc, query-term) hits; the query frame joins broadcast.
  * Top-k per query runs through the native heap exec — never a per-query
  * sort of the corpus.
  */
object Bm25 {

  /** Top-`topK` documents per query: (query_id, idCol, score), best
    * first. `queries` are (query_id, whitespace-separated terms).
    */
  def scoreTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, String)], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val spark = docs.sparkSession
    import spark.implicits._

    val toks = TextFunctions.hashAlignedTokens(col(textCol))
    // the tokenized corpus feeds three branches (stats, document
    // frequencies, term frequencies) — pin it once
    val withLen = graft.core.Materialize.pin(docs.select(col(idCol),
      TextFunctions.hashAlignedTokenCount(col(textCol)).cast("long").as("dl"),
      toks.as("__toks")))
    val qTerms: Seq[(String, String)] = queries.flatMap { case (qid, qt) =>
      qt.trim.split("\\s+").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }
    val terms = qTerms.map(_._2).distinct

    // driver stats: N, avgdl (exact longs; one double division)
    val statsRow = withLen.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = statsRow.getLong(0)
    require(nDocs > 0, "empty corpus")
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble

    // document frequencies of the query terms (query-vocabulary-sized)
    val dfMap = withLen
      .select(explode(array_distinct(col("__toks"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // absent terms keep df = 0 → a high idf on zero tf rows that never
    // materialize (no hits), harmless
    val idf = terms.map { t =>
      val d = dfMap.getOrElse(t, 0L)
      t -> math.log(((nDocs - d).toDouble + 0.5) / (d.toDouble + 0.5) + 1.0)
    }.toMap
    val qFrame = qTerms.map { case (qid, t) => (qid, t, idf(t)) }
      .toDF("query_id", "term", "idf")

    val tf = withLen
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val contrib = tf.join(broadcast(qFrame), Seq("term"))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl").cast("double") / lit(avgdl))))
    // sorted-term fold: float addition order fixed regardless of layout
    val scored = contrib.groupBy(col("query_id"), col(idCol))
      .agg(sort_array(collect_list(struct(col("term"), col("contrib"))))
        .as("__cs"))
      .withColumn("score",
        aggregate(col("__cs"), lit(0.0),
          (acc, x) => acc + x.getField("contrib")))
      .drop("__cs")
    TopK.perGroupNative(scored, "query_id", "score", idCol, topK,
      descending = true)
  }
}
