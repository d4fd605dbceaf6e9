package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.ShingleHashes

/** Exact duplicated-SPAN detection and removal — substring-granular
  * deduplication (Lee et al., "Deduplicating Training Data Makes Language
  * Models Better", ACL'22), the complement of the document-granular ops in
  * [[TextDedup]]/[[DupGroups]]: two documents that share a long quoted
  * passage but are otherwise distinct should lose the passage, not a whole
  * document. Reference scope: extends the dedup contract of
  * tests/unit/test_ingestion.py:131-156 from row identity to intra-document
  * span identity.
  *
  * Mechanics: every k-token window is hashed positionally (one fused
  * [[ShingleHashes]] projection, `distinct = false` so position i maps to
  * the window starting at token i). A window is *duplicated* when its hash
  * occurs in at least `minDocFreq` distinct documents — `minDocFreq = 2` is
  * span dedup, a high threshold (e.g. 1% of the corpus) is boilerplate
  * detection (headers, license blocks, navigation chrome). Overlapping
  * duplicated windows are merged into maximal token intervals per document
  * with one running-max window pass.
  *
  * Scale design: the corpus-×-windows expansion is the one unavoidable
  * global pass (identical shape to n-gram Jaccard); everything after it is
  * duplicated-window-sized, not corpus-sized. The doc-frequency aggregate
  * is a map-side-combining groupBy on a 64-bit hash; the hits frame keeps
  * only (doc, pos) of duplicated windows; the span merge shuffles hits once
  * by document; and [[stripSpans]] rebuilds text with a per-document
  * higher-order filter over a collected span array (spans per doc are few —
  * merged maximal intervals, bounded by n_tokens / k), never re-shuffling
  * the corpus.
  */
object SpanDedup {

  private def positionalWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol), posexplode(ColumnBridge.column(ShingleHashes(
        ColumnBridge.expression(col(textCol)), k, distinct = false))))
      .toDF(idCol, "pos", "h")

  /** (idCol, pos) of every k-token window whose hash occurs in at least
    * `minDocFreq` distinct documents. With `keepFirstDoc = true` the
    * occurrences inside the *lowest* document id holding each window are
    * treated as canonical and excluded — the keep-one side of span dedup.
    * (Canonicality is doc-level: a window repeated within its canonical
    * document keeps all those occurrences; cross-document copies are the
    * target, matching the reference's cross-row dedup contract.)
    */
  def duplicatedWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocFreq: Int = 2, keepFirstDoc: Boolean = false): DataFrame = {
    // shared: the corpus-×-windows expansion feeds BOTH the doc-frequency
    // aggregate and the hits join, so the shingle explode (the operator's
    // dominant cost) runs once (measured on q110/q111 as two concurrent
    // full expansion passes when lazily pinned)
    val wins = graft.core.Materialize.share(positionalWindows(df, idCol, textCol, k))
    // duplicated-window set: map-side partial agg on the 64-bit hash; only
    // hashes clearing the doc-frequency bar survive to the join
    val dup = wins.groupBy("h")
      .agg(countDistinct(col(idCol)).as("df"), min(col(idCol)).as("min_doc"))
      .filter(col("df") >= minDocFreq)
      .select("h", "min_doc")
    // corpus-growing sides must SHUFFLE (the post-explode underestimate
    // would broadcast them — the SCALING.md r8 trap); AQE can upgrade a
    // shuffle join to broadcast from runtime stats, but can never demote a
    // statically-planned broadcast, so the static plan must be the shuffle
    val hits = wins.join(dup.hint("shuffle_hash"), Seq("h"))
    val kept = if (keepFirstDoc) hits.filter(col(idCol) =!= col("min_doc")) else hits
    kept.select(col(idCol), col("pos"))
  }

  /** Merge window start positions into maximal [span_start, span_end) token
    * intervals per document: windows at p and q (p ≤ q) overlap or touch
    * iff q ≤ p + k, so a single ordered pass with a running max of
    * (pos + k) over preceding rows labels span islands; one aggregate
    * per (doc, island) yields the intervals.
    */
  private def mergeSpans(hits: DataFrame, idCol: String, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val prevEnd = max(col("pos") + k)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_span",
        when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(byDoc))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + k).as("span_end"))
  }

  /** Maximal duplicated-token intervals per document:
    * (idCol, span_id, span_start, span_end), token-indexed, end-exclusive.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
      minDocFreq: Int = 2, keepFirstDoc: Boolean = false): DataFrame =
    mergeSpans(duplicatedWindows(df, idCol, textCol, k, minDocFreq, keepFirstDoc),
      idCol, k)

  /** Per-document duplication audit: span count, duplicated-token count and
    * fraction — the report a corpus owner reads to pick strip thresholds.
    * Documents with no duplicated span are absent (inner semantics).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String, k: Int,
      minDocFreq: Int = 2): DataFrame = {
    val spans = dupSpans(df, idCol, textCol, k, minDocFreq)
    val perDoc = spans.groupBy(idCol).agg(
      count(lit(1)).as("n_spans"),
      sum(col("span_end") - col("span_start")).as("dup_tokens"))
    df.select(col(idCol),
        // aligned count: dup_tokens counts kernel tokens, so the
        // denominator must too (tokenCount over-counts by the empty
        // artifact on leading-\t/\n docs → dup_frac > 1 possible)
        graft.functions.TextFunctions.hashAlignedTokenCount(col(textCol))
          .cast("long").as("n_tokens"))
      .join(perDoc.hint("shuffle_hash"), Seq(idCol))
      .select(col(idCol), col("n_spans"), col("dup_tokens"), col("n_tokens"),
        (col("dup_tokens").cast("double") / col("n_tokens")).as("dup_frac"))
  }

  /** Corpus with duplicated spans stripped, keeping the occurrences in the
    * lowest document id per window (so every duplicated passage survives
    * exactly once at document granularity). Returns every input row with
    * `textCol` rewritten and a kept-token count; documents made entirely of
    * duplicated text come back empty rather than disappearing — dropping
    * them is the caller's policy decision.
    *
    * The rebuild is one left join of the corpus against its per-document
    * span arrays (collect_list over merged intervals — few per doc) and a
    * codegen higher-order filter over the token array. The span-array side
    * is affected-document-sized — corpus-growing, so the static plan is
    * the doc_id-keyed shuffle join (see rebuildWithoutSpans).
    */
  def stripSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
      minDocFreq: Int = 2): DataFrame =
    rebuildWithoutSpans(df, idCol, textCol,
      dupSpans(df, idCol, textCol, k, minDocFreq, keepFirstDoc = true))

  /** Surgical decontamination: strip the spans of `corpus` that share a
    * k-token window with `blocklist` (eval sets, canaries), keeping the
    * rest of each document — the span-granular form of
    * [[TextDedup.decontaminate]], for when dropping whole documents over
    * one quoted benchmark line is too lossy. Same broadcast discipline:
    * the blocklist's distinct window-hash set is tiny and broadcast; the
    * corpus is one positional-window scan + semi-join probe, and only
    * contaminated positions reach the interval merge.
    */
  def stripContaminatedSpans(corpus: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame, blocklistTextCol: String, k: Int): DataFrame = {
    val blocked = broadcast(
      blocklist.select(explode(ColumnBridge.column(ShingleHashes(
        ColumnBridge.expression(col(blocklistTextCol)), k))).as("h")).distinct())
    // unlike duplicatedWindows, the corpus windows expansion here has
    // exactly ONE consumer (the semi-join probe), so it needs no persist:
    // the rebuild's second corpus read is a plain scan without the shingle
    // explode. Benchmarked at sf0.1 this runs at parity with stripSpans
    // (0.9-1.3 s both, isolated and in-suite) — an earlier 5x reading was
    // suite-order noise, not a repeated expansion.
    val hits = positionalWindows(corpus, idCol, textCol, k)
      .join(blocked, Seq("h"), "left_semi")
      .select(col(idCol), col("pos"))
    rebuildWithoutSpans(corpus, idCol, textCol, mergeSpans(hits, idCol, k))
  }

  /** Within-document repetition stripping — the intra-document complement
    * of [[stripSpans]]: a k-token window whose hash occurs at least
    * `minCount` times in the SAME document keeps its first (lowest-position)
    * occurrence and loses the rest. This is the "remove terminal repetition
    * / in-document boilerplate" pass of a web-corpus pipeline: pathological
    * generator loops, duplicated paragraphs within a page, copy-pasted
    * chrome — removed without touching cross-document structure.
    *
    * Tokens covered by a first occurrence are PROTECTED: where a repeated
    * window overlaps its own canonical occurrence (periodic text), the
    * canonical window survives intact and only the tail repetitions are
    * stripped — mirroring [[stripSpans]]' keep-first-doc semantics at
    * window granularity. Scale shape is identical to [[stripSpans]]: one
    * persisted windows expansion, a (doc, hash)-keyed map-side-combining
    * aggregate (no cross-document traffic at all — the group key includes
    * the document), hits-only interval merges, and the shared
    * [[rebuildWithoutSpans]] token filter.
    */
  def stripSelfRepeats(df: DataFrame, idCol: String, textCol: String, k: Int,
      minCount: Int = 2): DataFrame = {
    // shared, as in duplicatedWindows
    val wins = graft.core.Materialize.share(positionalWindows(df, idCol, textCol, k))
    val rep = wins.groupBy(col(idCol), col("h"))
      .agg(count(lit(1)).as("n"), min(col("pos")).as("first_pos"))
      .filter(col("n") >= minCount)
      .select(col(idCol), col("h"), col("first_pos"))
    val hits = wins.join(rep.hint("shuffle_hash"), Seq(idCol, "h"))
      .filter(col("pos") > col("first_pos"))
      .select(col(idCol), col("pos"))
    val keep = rep.select(col(idCol), col("first_pos").as("pos"))
    rebuildWithoutSpans(df, idCol, textCol, mergeSpans(hits, idCol, k),
      keepFrame = Some(mergeSpans(keep, idCol, k)))
  }

  /** Rebuild `textCol` excluding the tokens covered by `spans`
    * ((idCol, span_start, span_end) intervals): one left join of the corpus
    * against its per-document span arrays (collect_list over merged
    * intervals — few per doc) and a codegen higher-order filter over the
    * token array. The span-array side is affected-document-sized — it
    * grows with the corpus, so the static plan is the id-keyed shuffle
    * join (a statically-planned broadcast could never be demoted by AQE
    * when the estimate is wrong; the reverse upgrade is runtime-safe).
    * Every input row survives
    * (possibly emptied), with a `kept_tokens` count. Tokens inside a
    * `keepFrame` interval are retained even when a strip span covers them
    * (the first-occurrence protection of [[stripSelfRepeats]]).
    */
  private def rebuildWithoutSpans(df: DataFrame, idCol: String, textCol: String,
      spanFrame: DataFrame, keepFrame: Option[DataFrame] = None): DataFrame = {
    val spanArrs = spanFrame
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    // tokenization MUST be positionally identical to ShingleHashes'
    // kernel (TextHashing: runs of space/\t\n\r, empties dropped) or the
    // filter strips the WRONG tokens — tokens()'s trim-then-\s+ split
    // shifts every position by one on a leading \t/\n and breaks on
    // \f/\x0B where the kernel does not (same divergence HeavyHitters
    // documents); SpanDedupSpec pins the edge cases
    val toks = graft.functions.TextFunctions.hashAlignedTokens(col(textCol))
    val emptySpans = array().cast("array<struct<span_start:int,span_end:int>>")
    val spans = coalesce(col("__spans"), emptySpans)
    def covered(arr: Column, i: Column): Column =
      exists(arr, sp =>
        i >= sp.getField("span_start") && i < sp.getField("span_end"))
    val joined = keepFrame match {
      case None =>
        df.join(spanArrs.hint("shuffle_hash"), Seq(idCol), "left")
          .withColumn("__kept_toks",
            filter(toks, (_: Column, i: Column) => !covered(spans, i)))
      case Some(kf) =>
        val keepArrs = kf.groupBy(idCol).agg(
          collect_list(struct(col("span_start"), col("span_end"))).as("__keep"))
        val keeps = coalesce(col("__keep"), emptySpans)
        df.join(spanArrs.hint("shuffle_hash"), Seq(idCol), "left")
          .join(keepArrs.hint("shuffle_hash"), Seq(idCol), "left")
          .withColumn("__kept_toks", filter(toks, (_: Column, i: Column) =>
            !covered(spans, i) || covered(keeps, i)))
    }
    joined
      .withColumn(textCol, concat_ws(" ", col("__kept_toks")))
      .withColumn("kept_tokens",
        when(length(col(textCol)) === 0, lit(0))
          .otherwise(size(split(col(textCol), " "))).cast("long"))
      .drop("__spans", "__keep", "__kept_toks")
  }
}
