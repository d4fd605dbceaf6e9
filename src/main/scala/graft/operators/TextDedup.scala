package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document deduplication operators for pretraining-scale corpora: exact
  * (hash-groupBy), near-dup via n-gram Jaccard (exact ground truth), and the
  * scale paths — MinHash+LSH banding and SimHash.
  *
  * Scale design notes:
  * - Exact dedup is one shuffle on a 16-byte fingerprint — the cheapest
  *   possible at 100 TB since only (fingerprint, doc_id) shuffles, not text.
  * - Exact pairwise Jaccard is ground truth for calibration only; its cost is
  *   quadratic in the worst case, so production near-dedup goes through
  *   [[minHashSignatures]]/[[lshCandidatePairs]]: O(docs × shingles) to
  *   sketch, shuffle on (band, bucket), pairs only within buckets.
  * - SimHash reduces each doc to one 64-bit signature in a single groupBy
  *   with 64 codegen'd conditional sums — no row explosion by bit.
  */
object TextDedup {

  /** Exact duplicates by normalized-text fingerprint: one row per distinct
    * content, keeping the lowest id as canonical plus the duplicate count.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Keep one row per distinct normalized content (lowest id wins),
    * deterministic counterpart of dropDuplicates at any partitioning.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val winners = exactDuplicateGroups(df, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Incremental-ingestion dedup: from `batch`, drop rows whose normalized
    * content fingerprint already exists in `corpus`, then keep one row per
    * remaining fingerprint (lowest id wins) — the per-dump dedup step of a
    * rolling corpus build, where each new crawl snapshot is deduped against
    * everything already ingested before appending.
    *
    * Scale shape: only (16-byte fingerprint, id) ever shuffles. The
    * existing corpus reduces to a distinct fingerprint set, the batch
    * anti-joins it on the fingerprint key, and the surviving winners
    * semi-join back to the batch — text rides only the final batch-sized
    * semi-join. No broadcast assumption: at corpus scale the existing
    * fingerprint side is itself huge, so the anti-join shuffles both sides
    * on the key (AQE still broadcasts small corpora on its own). A
    * Bloom-sketch prefilter ([[decontaminateBloom]]'s pattern) could cut
    * the probe cost further, but exactness of "already ingested" needs the
    * full set — a false positive would silently drop novel content.
    */
  def dedupIncrement(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val existing = corpus
      .select(fingerprint(col(textCol)).as("__fp")).distinct()
    val winners = batch
      .select(col(idCol), fingerprint(col(textCol)).as("__fp"))
      .join(existing, Seq("__fp"), "left_anti")
      .groupBy("__fp").agg(min(col(idCol)).as("__keep"))
      .select(col("__keep").as(idCol))
    batch.join(winners, Seq(idCol), "left_semi")
  }

  /** Exact n-gram Jaccard similarity for all candidate pairs sharing at least
    * one shingle. `maxDocFreq` drops shingles present in more than that many
    * documents (stop-shingles) — without it, a low-entropy corpus degenerates
    * to the full cross product.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxDocFreq: Long = 1000L,
      /** Eagerly compute the (small) pairs result and unpersist the shingle
        * expansion before returning — for one-shot callers that would
        * otherwise leave the corpus-sized cache pinned until LRU eviction.
        */
      materialize: Boolean = false): DataFrame = {
    val (docShingles, pairs) = intersectionPairs(df, idCol, textCol, n, maxDocFreq)
    val result = pairs
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
    if (!materialize) result
    else {
      // pairs output is tiny (post-threshold); filling it is cheap, while
      // the corpus-sized expansion gets released immediately
      val out = graft.core.Materialize.share(result)
      docShingles.unpersist()
      out
    }
  }

  /** The shared candidate-pair machinery behind [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: (doc_a, doc_b, inter, sz_a, sz_b) for every
    * unordered pair sharing at least one surviving shingle, plus the
    * shared expansion for the caller to release.
    *
    * Pairs join on 64-bit shingle HASHES (one-pass ShingleHashes), not the
    * shingle strings: identical distinct/intersection counts (collisions at
    * 2^-64 are noise) with a fixed-8-byte shuffle key instead of a string.
    * The expansion feeds four plan branches (sizes, doc-freq filter, both
    * join sides) — share it once instead of re-exploding per branch.
    * Lifecycle note: without `materialize` the cached expansion lives until
    * [[graft.core.Materialize.release]]; long-running callers invoking this
    * per batch should release between batches.
    */
  private def intersectionPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocFreq: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // shared: the doc-frequency aggregate and the semi-join probe both
    // read the corpus-sized shingle explode
    val docShingles = graft.core.Materialize.share(df
      .select(col(idCol).as("doc"),
        explode(ColumnBridge.column(graft.expressions.ShingleHashes(
          ColumnBridge.expression(col(textCol)), n))).as("sh")))
    // SHUFFLE_HASH hints on every expansion-derived join side: Catalyst's
    // size estimate for the post-explode frame inherits the (tiny,
    // compressed) pre-explode scan stats, so it would BROADCAST the
    // corpus-sized expansion — measured 19-50x superlinear at a 10x scale
    // probe (SCALING.md r8) from rebuilding an ever-growing driver hash
    // relation, and a guaranteed driver OOM at real scale. Hinted, the
    // expansion exchanges ONCE on the 8-byte shingle hash and the df-filter
    // semi join plus the pair self-join all consume that same partitioning.
    val filtered = docShingles.join(
      docShingles.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDocFreq).select("sh").hint("shuffle_hash"),
      Seq("sh"), "left_semi")
    // sizes over the SAME filtered shingle space as the intersection —
    // unfiltered denominators would deflate the similarity for docs
    // containing stop-shingles
    val sizes = filtered.groupBy("doc").agg(count(lit(1)).as("sz"))
    val a = filtered.withColumnRenamed("doc", "doc_a")
    val b = filtered.withColumnRenamed("doc", "doc_b")
    val inter = a.join(b.hint("shuffle_hash"), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
    (docShingles, pairs)
  }

  /** Asymmetric near-dup pairs by n-gram CONTAINMENT — Jaccard's blind
    * spot: a short document wholly quoted inside a long one scores low
    * Jaccard (the union is dominated by the long side) but containment 1.0
    * on the short side. `cont_a = inter/sz_a` is the fraction of a's
    * distinct n-grams present in b (and vice versa); a pair survives when
    * EITHER direction clears `minContainment` — the "subset duplicate"
    * detector (quoted articles, extended re-releases, prefix crawls) that
    * symmetric Jaccard structurally misses. Same candidate machinery,
    * stop-shingle cutoff, and scale shape as [[ngramJaccardPairs]].
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minContainment: Double, maxDocFreq: Long = 1000L,
      materialize: Boolean = false): DataFrame = {
    val (docShingles, pairs) = intersectionPairs(df, idCol, textCol, n, maxDocFreq)
    val result = pairs
      .withColumn("cont_a", col("inter").cast("double") / col("sz_a"))
      .withColumn("cont_b", col("inter").cast("double") / col("sz_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "cont_a", "cont_b")
    if (!materialize) result
    else {
      val out = graft.core.Materialize.share(result)
      docShingles.unpersist()
      out
    }
  }

  /** Corpus-level overlap audit between two corpora: distinct n-gram
    * volumes, the shared count, both containment directions, and Jaccard —
    * the one-row report read before admitting a new crawl dump ("how much
    * of this is already in the corpus?") or after a split ("did any eval
    * content leak into train?"). Doc-granular follow-ups are
    * [[ngramNovelty]] (per-document) and [[contaminationReport]]
    * (per-benchmark-doc); this is the corpus-granular headline.
    *
    * Scale shape: each side collapses to its DISTINCT 64-bit n-gram hash
    * set (map-side-combining aggregate), the intersection is one join on
    * the fixed 8-byte key, and the three counts reduce to a single row —
    * no per-document state, no pair blow-up. 2^-64 hash collisions are the
    * usual noise floor.
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, textColA: String,
      textColB: String, n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // shared: each side's distinct-gram set feeds TWO stages of one
    // action (its own count and the shared semi-join), so the corpus-scale
    // tokenize+explode+distinct pass runs once per side
    def gramSet(df: DataFrame, c: String) = graft.core.Materialize.share(
      df.select(explode(ColumnBridge.column(graft.expressions
        .ShingleHashes(ColumnBridge.expression(col(c)), n))).as("sh"))
        .distinct())
    val ga = gramSet(a, textColA)
    val gb = gramSet(b, textColB)
    val na = ga.agg(count(lit(1)).as("grams_a"))
    val nb = gb.agg(count(lit(1)).as("grams_b"))
    val shared = ga.join(gb, Seq("sh"), "left_semi")
      .agg(count(lit(1)).as("shared"))
    // an EMPTY side carries no n-gram mass: its containment (and, when
    // both are empty, jaccard) is 0 by convention rather than a 0/0 —
    // under ANSI mode an unguarded division would abort the whole report
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den).otherwise(lit(0.0))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(shared))
      .withColumn("cont_a_in_b", ratio(col("shared"), col("grams_a")))
      .withColumn("cont_b_in_a", ratio(col("shared"), col("grams_b")))
      .withColumn("jaccard", ratio(col("shared"),
        col("grams_a") + col("grams_b") - col("shared")))
  }

  /** Per-document n-gram novelty against a reference corpus: of each
    * document's DISTINCT word n-grams, how many are absent from the
    * reference's n-gram set — the "is this new text or a remix of what the
    * model already trained on" signal used when admitting a fresh crawl
    * increment against an existing pretraining corpus (high novelty →
    * admit; near-zero → the increment is recombinated known text).
    * Complements [[graft.operators.HeavyHitters]]-style familiarity
    * (token-level) at phrase granularity, and [[dedupIncrement]] (which
    * drops exact duplicates) with a graded score.
    *
    * Output: (idCol, n_grams, seen_grams, novelty = (n−seen)/n) — one row
    * per document of `df` with at least one n-gram. Scale shape: grams join
    * the reference's distinct-hash set on a fixed 8-byte key (the same
    * shuffle as [[ngramJaccardPairs]]' intersection, minus the pair
    * blow-up); the expansion is persisted once and feeds both the totals
    * and the semi-join tally.
    */
  def ngramNovelty(df: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, n: Int,
      /** Eagerly compute the (document-sized) result and unpersist the
        * corpus-sized gram expansion before returning — same lifecycle
        * valve as [[ngramJaccardPairs]]; the stated use (per-increment
        * admission) is a recurring call that would otherwise pin one
        * expansion cache per invocation until LRU eviction.
        */
      materialize: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def grams(d: DataFrame) = d.select(col(idCol),
      explode(ColumnBridge.column(graft.expressions.ShingleHashes(
        ColumnBridge.expression(col(textCol)), n))).as("h"))
    // shared: the per-doc tally and the hit join both read this frame
    val docGrams = graft.core.Materialize.share(grams(df))
    // the reference is corpus-sized in the stated use (per-increment
    // admission against everything already ingested): its distinct-gram
    // set and the per-doc tallies must SHUFFLE, not broadcast — Catalyst's
    // post-explode underestimate would otherwise build reference-vocab- and
    // corpus-row-sized broadcast relations (the SCALING.md r8 trap)
    val refSet = grams(reference).select("h").distinct().hint("shuffle_hash")
    val tot = docGrams.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val seen = docGrams.join(refSet, Seq("h"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("seen_grams"))
    val result = tot.join(seen.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("seen_grams"), lit(0L)).as("seen_grams"),
        ((col("n_grams") - coalesce(col("seen_grams"), lit(0L))).cast("double")
          / col("n_grams")).as("novelty"))
    if (!materialize) result
    else {
      // a recurring caller frees the (document-sized) result caches with
      // Materialize.release — otherwise N admission calls would pin N of
      // them, the smaller sibling of the gram-expansion leak this valve
      // exists to close
      val out = graft.core.Materialize.share(result)
      docGrams.unpersist()
      out
    }
  }

  /** MinHash signatures: k universal-family min-hashes per document over
    * its distinct shingles, computed in ONE pass per document by the
    * MinHashSig expression — a pure projection, zero shuffle (the
    * explode + k-min-aggregates formulation shuffled corpus × shingles
    * rows; see MinHashSig scaladoc). Signature is an array<bigint> of
    * length k; documents with fewer than n tokens are dropped, as the
    * aggregate formulation did.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // shared: signatures feed banding AND pair verification (3 plan
    // branches); at cluster scale this would be a cut to shuffle-safe
    // storage instead
    graft.core.Materialize.share(df.select(col(idCol).as("doc"),
      ColumnBridge.column(graft.expressions.MinHashSig(
        ColumnBridge.expression(col(textCol)), n, k)).as("signature"))
      .filter(col("signature").isNotNull))
  }

  /** Modulus of the md5-affine MinHash family: 2³¹ − 1 (Mersenne prime).
    * Keeping a and the reduced base hash below 2³¹ bounds every product
    * under 2⁶², so the arithmetic is overflow-free — hence bit-identical —
    * in both Spark (wrapping Long) and DuckDB (strict BIGINT).
    */
  private[operators] val MinHashMd5P = 2147483647L

  /** Affine params (aⱼ ∈ [1, P−1], bⱼ ∈ [0, P−1]) of the md5-parity MinHash
    * family, derived from md5("mh:a:j") / md5("mh:b:j") first 60 bits — the
    * exact `CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)` value DuckDB
    * computes, so an oracle can re-derive them instead of trusting
    * embedded literals.
    */
  private[operators] def md5AffineParams(k: Int): (Array[Long], Array[Long]) = {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(15), 16)
    }
    ((0 until k).map(j => h60(s"mh:a:$j") % (MinHashMd5P - 1) + 1).toArray,
      (0 until k).map(j => h60(s"mh:b:$j") % MinHashMd5P).toArray)
  }

  /** md5-affine MinHash signatures — the oracle-parity twin of
    * [[minHashSignatures]] (the q66-winnow / q167-CDC trick): base shingle
    * hash is the DuckDB-reproducible 60-bit md5, permutations are the
    * affine family over [[MinHashMd5P]], so every signature value replays
    * in SQL and the LSH SELECTION itself can be hash-verified. Same frame
    * shape and short-document contract as the xxhash path, and the same
    * one-pass compiled kernel shape (the Column-HOF formulation it
    * replaced evaluated k x shingles interpreted trees per document —
    * minutes at sf0.1); the engine-fast production default remains
    * MinHashSig (xxhash base, no per-shingle MessageDigest).
    */
  def minHashSignaturesMd5(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val (a, b) = md5AffineParams(k)
    // shared, as in minHashSignatures
    graft.core.Materialize.share(df.select(col(idCol).as("doc"),
      ColumnBridge.column(graft.expressions.MinHashSigMd5(
        ColumnBridge.expression(col(textCol)), n, k, a, b, MinHashMd5P))
        .as("signature"))
      .filter(col("signature").isNotNull))
  }

  /** LSH banding over MinHash signatures: split the k-length signature into
    * `bands` bands, hash each band, and emit candidate pairs that collide in
    * at least one band. Shuffles on (band, bucket) — never all-pairs.
    */
  def lshCandidatePairs(signatures: DataFrame, bands: Int): DataFrame = {
    val buckets = bandBuckets(signatures, bands)
    val a = buckets.withColumnRenamed("doc", "doc_a")
    val b = buckets.withColumnRenamed("doc", "doc_b")
    // SHUFFLE_HASH: the band expansion is corpus-sized (docs × bands) but
    // Catalyst's estimate inherits the pre-explode cache stats and would
    // broadcast it — the same scale trap intersectionPairs pins (see
    // SCALING.md r8). One exchange on (band, bucket) per side instead.
    a.join(b.hint("shuffle_hash"), Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** ASYMMETRIC LSH candidates: batch documents colliding with CORPUS
    * documents in at least one band — the cross-snapshot probe of
    * [[graft.operators.DupGroups.dedupIncrementNear]]. Same (band, bucket)
    * shuffle discipline as [[lshCandidatePairs]], but the two sides are
    * different frames (no `<` dedup — the id spaces are unrelated);
    * `doc_a` is always the batch side, `doc_b` the corpus side.
    */
  def lshCandidatePairsAgainst(batchSigs: DataFrame, corpusSigs: DataFrame,
      bands: Int, identityBuckets: Boolean = false): DataFrame = {
    val a = bandBuckets(batchSigs, bands, identityBuckets)
      .withColumnRenamed("doc", "doc_a")
    val b = bandBuckets(corpusSigs, bands, identityBuckets)
      .withColumnRenamed("doc", "doc_b")
    // the CORPUS-side band expansion must never broadcast (same trap as
    // lshCandidatePairs — the batch side may be small, the corpus never is)
    a.join(b.hint("shuffle_hash"), Seq("band", "bucket"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** [[lshCandidatePairs]] with IDENTITY buckets (the band's value string
    * itself) instead of the 8-byte xxhash bucket — the oracle-parity twin:
    * bucket equality is then exactly band-value equality, which SQL
    * replays verbatim. The hash bucket is only a shuffle-key size
    * optimization; candidate SETS are identical up to 2^-64 collisions.
    */
  def lshCandidatePairsIdentity(signatures: DataFrame, bands: Int): DataFrame = {
    val buckets = bandBuckets(signatures, bands, identityBucket = true)
    val a = buckets.withColumnRenamed("doc", "doc_a")
    val b = buckets.withColumnRenamed("doc", "doc_b")
    a.join(b.hint("shuffle_hash"), Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** (doc, band, bucket) banding of a signature frame — shared by the
    * symmetric and asymmetric candidate generators. `identityBucket` swaps
    * the 8-byte xxhash bucket for the band's comma-joined value string
    * (SQL-replayable; see [[lshCandidatePairsIdentity]]).
    */
  private def bandBuckets(signatures: DataFrame, bands: Int,
      identityBucket: Boolean = false): DataFrame =
    signatures
      .select(col("doc"), posexplode(slices(col("signature"), bands)))
      .withColumnRenamed("pos", "band")
      .withColumn("bucket",
        if (identityBucket)
          concat_ws(",", transform(col("col"), _.cast("string")))
        else xxhash64(col("band"), col("col")))
      .select("doc", "band", "bucket")

  /** Split an array into `bands` contiguous sub-arrays (as an array of
    * arrays) — pure expression, no UDF.
    */
  private def slices(arr: Column, bands: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => slice(arr, b * (size(arr) / bands) + 1, size(arr) / bands))

  /** Estimated Jaccard from MinHash signatures for candidate pairs:
    * fraction of agreeing signature positions.
    */
  def minHashVerify(candidates: DataFrame, signatures: DataFrame,
      minJaccard: Double): DataFrame =
    minHashVerifyAgainst(candidates, signatures, signatures, minJaccard)

  /** [[minHashVerify]] with distinct signature frames per side (`doc_a`
    * from `sigsA`, `doc_b` from `sigsB`) — for asymmetric candidates from
    * [[lshCandidatePairsAgainst]].
    */
  def minHashVerifyAgainst(candidates: DataFrame, sigsA: DataFrame,
      sigsB: DataFrame, minJaccard: Double): DataFrame = {
    val sa = sigsA.select(col("doc").as("doc_a"), col("signature").as("sig_a"))
    val sb = sigsB.select(col("doc").as("doc_b"), col("signature").as("sig_b"))
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // signature frames are corpus-row-sized (doc × k-long sketch) — the
    // lookups must shuffle on the doc key, never build a corpus-sized
    // broadcast hash relation (the candidates side is dup-mass-sized and
    // shuffles cheaply alongside)
    candidates.join(sa.hint("shuffle_hash"), "doc_a")
      .join(sb.hint("shuffle_hash"), "doc_b")
      .withColumn("est_jaccard",
        ColumnBridge.column(graft.expressions.LongArrayMatchFrac(
          ColumnBridge.expression(col("sig_a")),
          ColumnBridge.expression(col("sig_b")))))
      .filter(col("est_jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Benchmark decontamination: drop corpus documents sharing any word
    * n-gram with a blocklist (eval sets, canaries). Shingle-hash semi-join —
    * the blocklist side is tiny and broadcastable, so the corpus is one
    * scan + one broadcast probe, never shuffled.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame, blocklistTextCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def shingleHashes(df: DataFrame, c: String) =
      df.select(explode(ColumnBridge.column(graft.expressions.ShingleHashes(
        ColumnBridge.expression(col(c)), n))).as("__sh"))
    val blocked = broadcast(shingleHashes(blocklist, blocklistTextCol).distinct())
    val contaminatedIds = corpus
      .select(col(idCol),
        explode(ColumnBridge.column(graft.expressions.ShingleHashes(
          ColumnBridge.expression(col(textCol)), n))).as("__sh"))
      .join(blocked, Seq("__sh"), "left_semi")
      .select(idCol).distinct()
    corpus.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** Bloom-filter decontamination — same contract as [[decontaminate]]
    * (drop corpus documents sharing any word n-gram with the blocklist),
    * EXACT result, different scale path: instead of broadcasting the
    * blocklist's full shingle-hash set, build a Bloom filter over it with
    * one mergeable-sketch aggregation (BloomAgg — partial bit tables OR'd,
    * map-side combine does almost all the work), then prefilter the corpus
    * with a zero-shuffle codegen probe (BloomAnyContain). Only documents
    * the filter flags — contamination-sized, not corpus-sized — are
    * re-checked against the exact shingle set, and Bloom filters have no
    * false negatives, so the final anti-join equals [[decontaminate]]
    * bit-for-bit.
    *
    * When this beats the exact semi-join: a large blocklist (a prior
    * training corpus, a multi-release eval union) whose distinct shingle
    * set is too big to broadcast — the bit table is ~2 bytes/shingle at
    * 1% FPR instead of 8+, and sizing is explicit via `bitsPerItem`.
    */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame, blocklistTextCol: String, n: Int,
      bitsPerItem: Int = 16, numHashFns: Int = 6): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def shingleArr(c: String) = ColumnBridge.column(
      graft.expressions.ShingleHashes(ColumnBridge.expression(col(c)), n))
    // sizing pass over the blocklist only (the small side; one cheap job).
    // Upper bound: per-doc distinct shingles, summed — cross-doc overlap
    // only makes the filter sparser.
    val blArrs = blocklist.select(shingleArr(blocklistTextCol).as("__shs"))
    // coalesce: SUM over an empty blocklist is NULL — an empty blocklist is
    // legal (first release of an eval suite) and must flag nothing
    val approxItems = blArrs
      .agg(coalesce(sum(size(col("__shs"))), lit(0L))).head().getLong(0)
    val numBits = graft.expressions.BloomUtil.bitsFor(approxItems, bitsPerItem)
    val bitsRow = blArrs.agg(ColumnBridge.column(
      graft.expressions.BloomAgg(ColumnBridge.expression(col("__shs")),
        numBits, numHashFns).toAggregateExpression()).as("bits")).head()
    val bits = bitsRow.getSeq[Long](0).toArray
    // zero-shuffle prefilter: corpus scan + compiled probe, pushdown-friendly
    val candidates = corpus.filter(ColumnBridge.column(
      graft.expressions.BloomAnyContain(
        ColumnBridge.expression(shingleArr(textCol)), bits, numHashFns)))
    // exact verification of the (small) candidate set — removes Bloom false
    // positives; false negatives don't exist, so this is the full answer.
    // NO broadcast hint here: the blocklist shingle set is exactly what this
    // operator assumes is too big to broadcast — the semi-join shuffles the
    // contamination-sized candidate expansion against it (AQE still
    // broadcasts small blocklists on its own)
    val blocked =
      blocklist.select(explode(shingleArr(blocklistTextCol)).as("__sh")).distinct()
    val contaminatedIds = candidates
      .select(col(idCol), explode(shingleArr(textCol)).as("__sh"))
      .join(blocked, Seq("__sh"), "left_semi")
      .select(idCol).distinct()
    corpus.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** Contamination REPORT: for each blocklist document, how many distinct
    * corpus documents share at least one word n-gram with it — the audit
    * view an eval-set owner reads before deciding thresholds, complementing
    * [[decontaminate]]'s removal. Same broadcast discipline: the corpus is
    * one scan probing a broadcast blocklist shingle set; only matching
    * (blocklist doc, corpus doc) pairs — a contamination-sized frame, not a
    * corpus-sized one — reach the distinct+count shuffle.
    */
  def contaminationReport(corpus: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame, blocklistIdCol: String, blocklistTextCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def shingled(df: DataFrame, id: Column, c: String, shAs: String) =
      df.select(id, explode(ColumnBridge.column(graft.expressions.ShingleHashes(
        ColumnBridge.expression(col(c)), n))).as(shAs))
    val blocked = broadcast(
      shingled(blocklist, col(blocklistIdCol).as("bench_id"), blocklistTextCol, "__sh")
        .distinct())
    shingled(corpus, col(idCol), textCol, "__sh")
      .join(blocked, Seq("__sh"))
      .filter(col(idCol) =!= col("bench_id"))
      .select(col("bench_id"), col(idCol)).distinct()
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** SimHash 64-bit signature per document: sign of the per-bit sum of
    * token-hash bits, computed in one pass per document by the SimHash64
    * expression — a pure projection, zero shuffle.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.select(col(idCol).as("doc"),
      ColumnBridge.column(graft.expressions.SimHash64(
        ColumnBridge.expression(col(textCol)))).as("simhash"))
  }

  /** md5-parity SimHash — the oracle-replayable twin of [[simHash]] (same
    * trick as [[minHashSignaturesMd5]]): 60-bit md5 token hashes, one ±1
    * vote per bit per token OCCURRENCE, signature bit b set iff the vote
    * sum is strictly positive (2·countSet > nTokens — the kernel's
    * `votes(b) > 0`). 60 signature bits instead of 64; the banding and
    * Hamming verify downstream are hash-family-independent. One compiled
    * pass per row (SimHash64Md5); production default stays the FNV kernel
    * (no per-token MessageDigest).
    */
  def simHashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.select(col(idCol).as("doc"),
      ColumnBridge.column(graft.expressions.SimHash64Md5(
        ColumnBridge.expression(col(textCol)))).as("simhash"))
  }

  /** Near-dup pairs by SimHash: candidates via 4-band exact-match blocking
    * (16 bits per band — a pair within Hamming distance 3 must agree on at
    * least one band), verified by exact Hamming distance ≤ `maxHamming`.
    */
  def simHashPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = sigs.select(col("doc"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.select(col("doc").as("doc_a"), col("simhash").as("sig_a"),
      col("band"), col("bucket"))
    val b = banded.select(col("doc").as("doc_b"), col("simhash").as("sig_b"),
      col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
