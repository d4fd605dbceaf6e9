package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.ShingleHashesMd5

/** EXACT threshold-Jaccard similarity self-join via prefix filtering
  * (Chaudhuri, Ganti & Kaushik, ICDE 2006; Bayardo, Ma & Srikant's
  * All-Pairs, WWW 2007; the filter inside PPJoin, Xiao et al. WWW 2008)
  * — the deterministic counterpart of the MinHash-LSH path
  * ([[TextDedup]] q42): LSH can miss a qualifying pair with small
  * probability; prefix filtering GUARANTEES none are missed at
  * `J ≥ t`, which is what the q239 oracle checks by computing the full
  * exact pair set in DuckDB with no filter at all.
  *
  * The theorem: order every token by a global total order (ascending
  * document frequency, ties by hash — rarest first, the canonical
  * choice that makes prefixes maximally selective). If
  * `J(A,B) ≥ t` then `|A∩B| ≥ ceil(t·max(|A|,|B|))`, and by pigeonhole
  * two sets with overlap ≥ α must collide within their first
  * `|d| − α + 1` tokens — so any qualifying pair shares at least one
  * token inside both docs' prefixes of length `|d| − ceil(t·|d|) + 1`.
  * We extend the prefix by ONE extra token: `ceil(t·|d|)` is computed
  * in doubles, and at an exact integer boundary (t·|d| integral) a
  * half-ulp-high product would round the ceiling up and silently
  * shorten the prefix past the safe length — the margin token makes
  * the guarantee robust to that last-ulp case at the cost of one
  * candidate token per doc.
  *
  * Scale shape vs sharing-ANY-token candidates (q41's generation): the
  * candidate join expands only `(1−t)·|d| + 2` prefix tokens per doc
  * instead of `|d|`, and those are each doc's RAREST tokens, so bucket
  * sizes — and the pair frame — collapse. Stages: one df aggregate on
  * the 8-byte token hash, one per-doc window for (size, rank), the
  * prefix equi-join (SHUFFLE_HASH pinned on both expansion sides),
  * exact `array_intersect` verification on candidates only. Everything
  * is md5-family hashing, so the exact pair set replays in SQL.
  */
object PrefixFilter {

  /** All pairs with Jaccard ≥ `t` over distinct word `n`-gram shingle
    * sets, as `(doc_a, doc_b, inter, sz_a, sz_b, jaccard)` —
    * schema-compatible with [[TextDedup.ngramJaccardPairs]]. Docs with
    * fewer than `n` tokens have no shingle set and join nothing (the
    * [[ShingleHashesMd5]] contract); for `n = 1` a blank doc would
    * shingle the empty token, so blanks are filtered explicitly.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      t: Double, n: Int = 3): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"threshold must be in (0, 1], got $t")
    // shared: the df aggregate, the rank join side and the set aggregate
    // all read this md5 shingle expansion
    val toks = graft.core.Materialize.share(docs
      .filter(trim(col(textCol)) =!= "")
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(ColumnBridge.column(ShingleHashesMd5(
          ColumnBridge.expression(col(textCol)), n)))).as("h")))
    // EVERY join side below grows with the corpus (the df aggregate's
    // group domain is the shingle vocabulary, the set frame is
    // doc-count-sized with |d|-long arrays, candidates are pair-sized) —
    // none is broadcast-safe at scale, and Catalyst's size estimates for
    // aggregates over an exploded subtree inherit the compressed scan
    // stats, so pin SHUFFLE_HASH everywhere
    val df = toks.groupBy("h").agg(count(lit(1)).as("df"))
    val ranked = toks.join(df.hint("shuffle_hash"), "h")
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
    // prefix = |d| - ceil(t*|d|) + 1, plus the one-token float-safety margin
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(lit(t) * col("sz")) + lit(2))
      .select(col("doc_id"), col("h"), col("rn"), col("sz"))
    val pa = prefix.toDF("doc_a", "h", "rn_a", "sz_a")
    val pb = prefix.toDF("doc_b", "h", "rn_b", "sz_b")
    // PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2): J ≥ t needs
    // overlap ≥ α = t/(1+t)·(|A|+|B|); the best overlap still achievable
    // from a meet at ranks (rn_a, rn_b) is 1 + min(sz−rn) (met token
    // included — all other shared tokens sort after the EARLIEST shared
    // one on both sides, so that meet always passes for a qualifying
    // pair: no false negatives). Prunes the junk-candidate tail before
    // any array is carried; the ε slack can only ADMIT a float-boundary
    // pair, never prune one.
    val cand = pa.hint("shuffle_hash")
      .join(pb.hint("shuffle_hash"), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(1.0) +
        least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")).cast("double") +
        lit(1e-9) >=
        lit(t / (1.0 + t)) * (col("sz_a") + col("sz_b")).cast("double"))
      .select("doc_a", "doc_b").distinct()
    val sets = toks.groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("sz"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("sz").as("sz_a")).hint("shuffle_hash"), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("sz").as("sz_b")).hint("shuffle_hash"), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= t)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
  }
}
