package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.operators.TextDedup

/** Text-analysis and document-dedup surface (north-star extensions): token
  * stats, language profiling, quality filtering, fingerprint dedup, exact
  * n-gram Jaccard, and the sketch-based scale paths (MinHash+LSH, SimHash) —
  * ALL oracle-green: the sketch gates run the md5-parity hash-family twins
  * (TextDedup.minHashSignaturesMd5 / simHashMd5), whose signatures, band
  * collisions, and verifies replay in DuckDB SQL, while the engine-fast
  * xxhash/FNV kernels keep the ScalaTest recall/precision bars.
  */
object Text {

  private val stopwords = Seq("the", "a", "of", "and", "data")

  /** Per-document token statistics — one codegen'd projection, no UDFs. */
  private val tokenStats = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars"),
          avgWordLen(col("text")).as("avg_word_len"))
        .orderBy("doc_id"),
    """SELECT doc_id,
      |  len(string_split(trim(text), ' ')) AS n_tokens,
      |  length(text) AS n_chars,
      |  CAST(length(replace(trim(text), ' ', '')) AS DOUBLE) / len(string_split(trim(text), ' ')) AS avg_word_len
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Corpus profile per language tag: volume, mean length, stopword mass. */
  private val langStats = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("total_tokens"),
          (sum(length(col("text"))).cast("double") / count(lit(1))).as("avg_chars"),
          sum(tokenSetHits(col("text"), stopwords)).as("stopword_hits"))
        .orderBy("lang"),
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  CAST(SUM(len(list_filter(string_split(trim(text), ' '),
      |      t -> t IN ('the','a','of','and','data')))) AS BIGINT) AS stopword_hits
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)

  /** Quality filter: keep documents whose composite score clears 2/3 —
    * the length/stopword/word-shape filter of a pretraining pipeline.
    */
  private val qualityFilter = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("stopword_ratio", stopwordRatio(col("text"), stopwords))
        .withColumn("quality", qualityScore(col("text"), stopwords))
        .filter(col("quality") >= 2.0 / 3.0)
        .select("doc_id", "stopword_ratio", "quality")
        .orderBy("doc_id"),
    """SELECT doc_id, stopword_ratio, quality FROM (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(trim(text), ' '),
      |         t -> t IN ('the','a','of','and','data'))) AS DOUBLE)
      |      / len(string_split(trim(text), ' ')) AS stopword_ratio,
      |    ((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
      |     + (CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
      |             t -> t IN ('the','a','of','and','data'))) AS DOUBLE)
      |             / len(string_split(trim(text), ' ')) > 0.0 THEN 1.0 ELSE 0.0 END)
      |     + (CASE WHEN CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
      |             / len(string_split(trim(text), ' ')) BETWEEN 2.0 AND 12.0
      |        THEN 1.0 ELSE 0.0 END)) / 3.0 AS quality
      |  FROM documents)
      |WHERE quality >= 2.0/3.0 ORDER BY doc_id""".stripMargin)

  /** Exact-dedup groups by content fingerprint (md5 of normalized text). */
  private val fingerprintDedup = QueryDef(
    (s, dir) =>
      TextDedup.exactDuplicateGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("fingerprint"),
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint,
      |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin)

  /** Exact word-trigram Jaccard near-dup pairs (ground truth for the sketch
    * paths), at the library-default stop-shingle cutoff (maxDocFreq=1000 —
    * the quadratic-degeneration guard stays armed in gate code); the oracle
    * mirrors the cutoff with the same doc-frequency HAVING filter.
    */
  private val ngramJaccard = QueryDef(
    (s, dir) =>
      TextDedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDocFreq = 1000L)
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
        .orderBy("doc_a", "doc_b"),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      |fsh AS (SELECT doc_id, s FROM sh JOIN kept USING (s)),
      |sz AS (SELECT doc_id, COUNT(*) sz FROM fsh GROUP BY 1),
      |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) inter
      |          FROM fsh a JOIN fsh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, x.sz AS sz_a, y.sz AS sz_b,
      |  CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) AS jaccard
      |FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      |WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin)

  /** q239: EXACT threshold-Jaccard join via prefix filtering
    * (PrefixFilter.jaccardPairs) — the deterministic sibling of q41
    * (shared-any-shingle candidates) and q42 (probabilistic MinHash
    * LSH): candidates come only from each doc's rarest
    * `|d| − ceil(t·|d|) + 1` shingles under the global df-ascending
    * order, with the pigeonhole guarantee of NO false negatives at
    * J ≥ t. The oracle makes that guarantee the gate: DuckDB computes
    * the COMPLETE exact pair set with no filtering at all, so a single
    * pair lost to an over-aggressive prefix (or a df-ordering bug)
    * fails the hash.
    */
  private val prefixFilterJoin = QueryDef(
    (s, dir) =>
      graft.operators.PrefixFilter.jaccardPairs(
        Tables.documents(s, dir), "doc_id", "text", t = 0.6, n = 3)
        .orderBy("doc_a", "doc_b"),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t
      |              FROM documents WHERE trim(text) != ''),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |h AS (SELECT doc_id,
      |        CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS hh
      |      FROM sh),
      |sz AS (SELECT doc_id, COUNT(*) n FROM h GROUP BY 1),
      |inter AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) c
      |          FROM h a JOIN h b ON a.hh = b.hh AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b, c AS inter,
      |  x.n AS sz_a, y.n AS sz_b,
      |  CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
      |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
      |WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= CAST('0.6' AS DOUBLE)
      |ORDER BY doc_a, doc_b""".stripMargin)

  /** MinHash(128) + LSH(32 bands) candidate pairs verified at est-Jaccard
    * ≥ 0.5 — oracle-green via the md5-affine hash family
    * (TextDedup.minHashSignaturesMd5 + identity band buckets): signatures,
    * band collisions, the candidate SET, and the estimated-Jaccard verify
    * (agree-count / 128 — exact, power-of-two divisor) all replay in
    * DuckDB, so the entire sketch path is hash-verified end to end. The
    * engine-fast xxhash kernel keeps the ScalaTest recall assertions vs
    * q41's exact pairs.
    */
  private val minhashLsh = QueryDef(
    (s, dir) => {
      val sigs = TextDedup.minHashSignaturesMd5(
        Tables.documents(s, dir), "doc_id", "text", n = 3, k = 128)
      TextDedup.minHashVerify(
        TextDedup.lshCandidatePairs(sigs, bands = 32, identityBuckets = true),
        sigs, minJaccard = 0.5)
        .orderBy("doc_a", "doc_b")
    },
    Some(minhashMd5Ctes +
      """,
        |v AS (SELECT c.doc_a, c.doc_b,
        |        CAST(list_sum([CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END
        |                       for i in range(1, 129)]) AS DOUBLE) / 128 AS est_jaccard
        |      FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
        |      JOIN sig sb ON c.doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, est_jaccard FROM v
        |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin))

  /** Shared DuckDB replay of the md5-affine MinHash path (q42, q113): the
    * affine params are RE-DERIVED in SQL from the same md5("mh:a:j") window
    * the Scala side uses — nothing is trusted as a literal. CTE chain ends
    * at `sig(doc_id, sg)` (ordered 128-long signature) and
    * `cand(doc_a, doc_b)` (distinct band-collision pairs).
    */
  /** One side's sig CTE chain of the md5-affine MinHash replay (prefix ->
    * `{pfx}toks/hs/sigj/sig/bb`), over an upstream CTE named `src` with
    * (doc_id, text). Shared by q127's two-corpus oracle.
    */
  private def md5SigSideCtes(src: String, pfx: String): String =
    s"""${pfx}toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM $src),
       |${pfx}hs AS (SELECT doc_id,
       |    [CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % 2147483647
       |     for s in list_distinct(
       |       [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])] AS hh
       |  FROM ${pfx}toks WHERE len(t) >= 3),
       |${pfx}sigj AS (SELECT doc_id, p.j,
       |    list_min([(p.a * h + p.b) % 2147483647 for h in hh]) AS m
       |  FROM ${pfx}hs CROSS JOIN params p),
       |${pfx}sig AS (SELECT doc_id, list(m ORDER BY j) AS sg FROM ${pfx}sigj GROUP BY doc_id),
       |${pfx}bb AS (SELECT doc_id, band,
       |    array_to_string(sg[(band * 4 + 1):(band * 4 + 4)], ',') AS bucket
       |  FROM ${pfx}sig CROSS JOIN (SELECT unnest(range(0, 32)) AS band))""".stripMargin

  /** Estimated Jaccard of two 128-long signature lists: agree-count / 128 —
    * exact (power-of-two divisor), LongArrayMatchFrac's SQL twin.
    */
  private def sqlEstJaccard(sa: String, sb: String): String =
    s"CAST(list_sum([CASE WHEN $sa[i] = $sb[i] THEN 1 ELSE 0 END " +
      s"for i in range(1, 129)]) AS DOUBLE) / 128"

  private lazy val minhashMd5Ctes: String =
    """WITH RECURSIVE params AS (
      |  SELECT j,
      |    CAST('0x' || substring(md5('mh:a:' || j), 1, 15) AS BIGINT)
      |      % 2147483646 + 1 AS a,
      |    CAST('0x' || substring(md5('mh:b:' || j), 1, 15) AS BIGINT)
      |      % 2147483647 AS b
      |  FROM (SELECT unnest(range(0, 128)) AS j)),
      |toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |hs AS (SELECT doc_id,
      |    [CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % 2147483647
      |     for s in list_distinct(
      |       [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])] AS hh
      |  FROM toks WHERE len(t) >= 3),
      |sigj AS (SELECT doc_id, p.j,
      |    list_min([(p.a * h + p.b) % 2147483647 for h in hh]) AS m
      |  FROM hs CROSS JOIN params p),
      |sig AS (SELECT doc_id, list(m ORDER BY j) AS sg FROM sigj GROUP BY doc_id),
      |bb AS (SELECT doc_id, band,
      |    array_to_string(sg[(band * 4 + 1):(band * 4 + 4)], ',') AS bucket
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 32)) AS band)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
      |           AND a.doc_id < b.doc_id)""".stripMargin

  /** SimHash near-dup pairs at Hamming ≤ 3 via 16-bit band blocking —
    * oracle-green via the md5-parity signature (TextDedup.simHashMd5):
    * the per-bit majority votes, the band blocking, and the XOR/popcount
    * Hamming verify all replay in DuckDB. The FNV kernel path keeps the
    * ScalaTest recall assertions.
    */
  private val simhashPairs = QueryDef(
    (s, dir) =>
      TextDedup.simHashPairs(
        TextDedup.simHashMd5(Tables.documents(s, dir), "doc_id", "text"))
        .orderBy("doc_a", "doc_b"),
    """WITH th AS (SELECT doc_id,
      |    [CAST('0x' || substring(md5(tk), 1, 15) AS BIGINT)
      |     for tk in string_split(trim(text), ' ')] AS hh
      |  FROM documents),
      |sg AS (SELECT doc_id,
      |    CAST(list_sum([CASE WHEN 2 * len([h for h in hh if (h >> b) & 1 = 1]) > len(hh)
      |                   THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
      |                   for b in range(0, 60)]) AS BIGINT) AS sig
      |  FROM th),
      |bands AS (SELECT doc_id, sig, b, (sig >> (b * 16)) & 65535 AS bucket
      |          FROM sg CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |           a.sig AS sa, b2.sig AS sb
      |         FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bucket = b2.bucket
      |           AND a.doc_id < b2.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin)

  /** Deterministic train/holdout split by content-hash bucket: stable
    * membership across runs/engines (no RNG), tallied per split.
    */
  private val hashSplit = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.split(Tables.documents(s, dir), "doc_id", trainPct = 90)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("total_tokens"))
        .orderBy("split"),
    """SELECT CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90
      |            THEN 'train' ELSE 'holdout' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin)

  /** Decontamination: remove documents sharing any word 5-gram with a
    * pseudo-benchmark (the 3 lowest doc_ids) — the REAL library operator
    * (TextDedup.decontaminate, 64-bit shingle-hash broadcast semi-join).
    * The oracle builds string shingles instead, but only the final
    * per-language aggregate is compared, and hash vs string shingle keys
    * classify identically (q41 pins the same tokenization equivalence);
    * the hash form skips the corpus-wide shingle-string construction that
    * used to dominate this query's runtime.
    */
  private val decontaminate = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") < 3)
      graft.operators.TextDedup.decontaminate(
        docs, "doc_id", "text", bench, "text", n = 5)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },
    """WITH sh AS (SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)])) s
      |  FROM (SELECT doc_id, string_split(trim(text), ' ') t FROM documents)
      |  WHERE len(t) >= 5),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 3),
      |contaminated AS (SELECT DISTINCT doc_id FROM sh WHERE s IN (SELECT s FROM bench))
      |SELECT lang, COUNT(*) AS n_docs FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
      |GROUP BY lang ORDER BY lang""".stripMargin)

  /** Bloom-filter decontamination (TextDedup.decontaminateBloom): the
    * large-blocklist scale path — mergeable Bloom build (BloomAgg), compiled
    * zero-shuffle corpus probe (BloomAnyContain), exact verification of the
    * flagged candidates only. Bloom filters have no false negatives, so the
    * result is EXACTLY the shingle-overlap semantics and the oracle replays
    * it with plain string shingles (hash vs string keys classify
    * identically, as q41/q63 pin). Distinct params from q63 (4-grams,
    * 5-doc blocklist, per-source tally) so the two decontamination paths
    * are gated independently.
    */
  private val bloomDecontaminate = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") < 5)
      graft.operators.TextDedup.decontaminateBloom(
        docs, "doc_id", "text", bench, "text", n = 4)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    },
    """WITH sh AS (SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i:i+3], ' ') for i in range(1, len(t) - 2)])) s
      |  FROM (SELECT doc_id, string_split(trim(text), ' ') t FROM documents)
      |  WHERE len(t) >= 4),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
      |contaminated AS (SELECT DISTINCT doc_id FROM sh WHERE s IN (SELECT s FROM bench))
      |SELECT source, COUNT(*) AS n_docs FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
      |GROUP BY source ORDER BY source""".stripMargin)

  /** Sorted-neighborhood near-dup pass (SortedNeighborhood.nearDupPairs):
    * the third blocking family next to exact shingle joins (q41) and LSH
    * banding (q42) — global text-order rank via distributed prefix sum,
    * compare each doc to its 4 successors, verify with the compiled
    * set-Jaccard kernel. Candidate count is exactly window × N, so the cost
    * is data-independent (no stop-shingle or bucket-skew blowups). The
    * oracle replays the same rank/window/Jaccard arithmetic with string
    * shingles.
    */
  private val sortedNeighborhood = QueryDef(
    (s, dir) =>
      graft.operators.SortedNeighborhood.nearDupPairs(
        Tables.documents(s, dir), "doc_id", "text",
        sortCol = "text", window = 4, n = 3, minJaccard = 0.5)
        .orderBy("doc_a", "doc_b"),
    """WITH r AS (
      |  SELECT doc_id, text, ROW_NUMBER() OVER (ORDER BY text, doc_id) AS rank
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, rank, list_distinct(
      |    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
      |  FROM (SELECT doc_id, rank, string_split(trim(text), ' ') t FROM r)),
      |scored AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib,
      |    len(list_intersect(a.s, b.s)) AS inter,
      |    len(a.s) + len(b.s) AS sz_sum
      |  FROM sh a JOIN sh b ON b.rank BETWEEN a.rank + 1 AND a.rank + 4)
      |SELECT least(ia, ib) AS doc_a, greatest(ia, ib) AS doc_b,
      |  CAST(inter AS DOUBLE) / (sz_sum - inter) AS jaccard
      |FROM scored
      |WHERE sz_sum - inter > 0 AND CAST(inter AS DOUBLE) / (sz_sum - inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin)

  /** Rolling-hash document fingerprints (winnowing): per-doc sketch stats
    * over trigram shingles, window 4. The gate variant selects minima over
    * md5-derived hashes so DuckDB reproduces the selection EXACTLY (same
    * windowing arithmetic, same hash values); the engine-fast path
    * (TextFunctions.winnowFingerprints, one-pass FNV hashes) shares the
    * identical winnow Column logic and is property-tested in
    * TextFunctionsSpec.
    */
  private val winnowFp = QueryDef(
    (s, dir) =>
      // staged projections, one step per derived array: inside a single
      // fused expression the token array is re-evaluated per transform
      // element (interpreted HOFs, no let-binding) — splitting the steps
      // makes each intermediate an attribute reference, and CollapseProject
      // keeps the steps apart because each alias is non-cheap and referenced
      // more than once downstream. Measured 9.5 s → sub-second at sf0.1.
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), shinglesOfTokens(col("toks"), 3).as("sh"))
        .select(col("doc_id"), winnow(md5Hashes60(col("sh")), 4).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max")),
      // no global orderBy: the driver compare sorts rows itself, and at
      // corpus scale a final total sort of per-doc stats is a pure n·log n
      // tax — the 40x probe measured it as q66's entire ratio/M curvature
      // (0.92 → 1.10 → 1.15 rising with log n; expression cost is linear)
    """SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
      |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
      |FROM (
      |  SELECT doc_id, list_distinct(
      |      [list_min(hs[j:j+3]) for j in range(1, len(hs) - 2)]) AS fps
      |  FROM (
      |    SELECT doc_id,
      |      [CAST('0x' || substring(md5(array_to_string(t[i:i+2], ' ')), 1, 15) AS BIGINT)
      |       for i in range(1, len(t) - 1)] AS hs
      |    FROM (SELECT doc_id, string_split(trim(text), ' ') t FROM documents)))
      |ORDER BY doc_id""".stripMargin)

  /** Whitespace vs BPE-ish pretoken counts per document — the "how many
    * tokens will the tokenizer emit" costing pass. The pretokenization regex
    * (TextFunctions.bpePattern) is written for identical leftmost-first
    * matching in Java regex and RE2, so the oracle runs the same pattern.
    */
  private val bpeTokens = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_ws_tokens"),
          bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id"),
    """SELECT doc_id,
      |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text,
      |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+'))
      |    AS BIGINT) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Near-duplicate CLUSTERS (not just pairs): q41's exact trigram-Jaccard
    * pairs transitively closed by min-label propagation
    * (DupGroups.connectedComponents) — the step that turns pair lists into
    * "keep one canonical per cluster" decisions. The oracle closes the same
    * pair set with a recursive reachability CTE.
    */
  private val dupGroups = QueryDef(
    (s, dir) =>
      graft.operators.DupGroups.nearDupGroups(
        Tables.documents(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5)
        .orderBy("doc_id"),
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      |fsh AS (SELECT doc_id, s FROM sh JOIN kept USING (s)),
      |sz AS (SELECT doc_id, COUNT(*) sz FROM fsh GROUP BY 1),
      |cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) inter
      |         FROM fsh a JOIN fsh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b FROM cand
      |          JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      |          WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5),
      |edges AS (SELECT doc_a u, doc_b v FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
      |SELECT CAST(src AS BIGINT) AS doc_id, CAST(MIN(dst) AS BIGINT) AS group_id
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)

  /** Gopher-style repetition signals (top-word / top-bigram / duplicate-
    * trigram fractions) — one zero-shuffle projection via the one-pass
    * NgramFreqStats expression; the oracle recomputes every signal with
    * unnest + GROUP BY (fine at oracle scale, a corpus-sized shuffle the
    * engine deliberately avoids).
    */
  private val repetition = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), repetitionSignals(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_words"), col("r.top_word_frac"),
          col("r.top_bigram_frac"), col("r.dup_trigram_frac"))
        .orderBy("doc_id"),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |uni AS (SELECT doc_id, unnest(t) g FROM toks),
      |uc AS (SELECT doc_id, g, COUNT(*) c FROM uni GROUP BY 1, 2),
      |us AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) total, MAX(c) maxc FROM uc GROUP BY 1),
      |bi AS (SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) g
      |       FROM toks WHERE len(t) >= 2),
      |bc AS (SELECT doc_id, g, COUNT(*) c FROM bi GROUP BY 1, 2),
      |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) total, MAX(c) maxc FROM bc GROUP BY 1),
      |tri AS (SELECT doc_id, unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) g
      |        FROM toks WHERE len(t) >= 3),
      |tc AS (SELECT doc_id, g, COUNT(*) c FROM tri GROUP BY 1, 2),
      |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) total,
      |         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) dupc FROM tc GROUP BY 1)
      |SELECT d.doc_id AS doc_id,
      |  coalesce(us.total, 0) AS n_words,
      |  CASE WHEN coalesce(us.total, 0) = 0 THEN 0.0 ELSE CAST(us.maxc AS DOUBLE) / us.total END AS top_word_frac,
      |  CASE WHEN coalesce(bs.total, 0) = 0 THEN 0.0 ELSE CAST(bs.maxc AS DOUBLE) / bs.total END AS top_bigram_frac,
      |  CASE WHEN coalesce(ts.total, 0) = 0 THEN 0.0 ELSE CAST(ts.dupc AS DOUBLE) / ts.total END AS dup_trigram_frac
      |FROM documents d LEFT JOIN us ON d.doc_id = us.doc_id
      |LEFT JOIN bs ON d.doc_id = bs.doc_id LEFT JOIN ts ON d.doc_id = ts.doc_id
      |ORDER BY doc_id""".stripMargin)

  /** PII redaction (emails/phones/IPv4 → typed placeholders) plus removal
    * counts, over deterministically synthesized PII-bearing text (the corpus
    * itself contains none — the synthesis is replayed identically by the
    * oracle so the redaction semantics are what's compared). Pure projection:
    * regex patterns are restricted to the Java∩RE2 common subset.
    */
  private val piiRedact = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(lit("contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" from 10."), (col("doc_id") % 200).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string"),
            lit(" re: "), substring(col("text"), 1, 40)).as("msg"))
        .select(col("doc_id"),
          graft.functions.Redaction.emailCount(col("msg")).as("n_emails"),
          graft.functions.Redaction.phoneCount(col("msg")).as("n_phones"),
          graft.functions.Redaction.ipCount(col("msg")).as("n_ips"),
          graft.functions.Redaction.redactPii(col("msg")).as("redacted"))
        .orderBy("doc_id"),
    """WITH synth AS (
      |  SELECT doc_id,
      |    'contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or call +1-555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
      |    CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' re: ' ||
      |    substring(text, 1, 40) AS msg
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(msg, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(msg, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(msg, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
      |  regexp_replace(regexp_replace(regexp_replace(msg,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}', '<PHONE>', 'g'),
      |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS redacted
      |FROM synth ORDER BY doc_id""".stripMargin)

  /** End-to-end corpus dedup: q68's clusters applied — keep the minimum-id
    * canonical of every near-dup cluster plus all singleton documents
    * (DupGroups.dropNearDuplicates). This is the operator a pipeline
    * actually runs; pairs and groups are its intermediates.
    */
  private val dedupKeepSet = QueryDef(
    (s, dir) =>
      graft.operators.DupGroups.dropNearDuplicates(
        Tables.documents(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      |fsh AS (SELECT doc_id, s FROM sh JOIN kept USING (s)),
      |sz AS (SELECT doc_id, COUNT(*) sz FROM fsh GROUP BY 1),
      |cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) inter
      |         FROM fsh a JOIN fsh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b FROM cand
      |          JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      |          WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5),
      |edges AS (SELECT doc_a u, doc_b v FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
      |comp AS (SELECT src, MIN(dst) grp FROM reach GROUP BY src),
      |losers AS (SELECT src FROM comp WHERE src != grp)
      |SELECT doc_id, lang, source FROM documents
      |WHERE doc_id NOT IN (SELECT src FROM losers) ORDER BY doc_id""".stripMargin)

  /** Pretraining-mixture materialization: per-source admission rates
    * (keep all of src0/src1, half of src2/src3, a quarter of the rest) via
    * the deterministic md5 bucket — tallied per source. The admission
    * predicate is a pure filter that pushes into the scan.
    */
  private val mixtureSample = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.mixture(
        Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 100, "src1" -> 100, "src2" -> 50, "src3" -> 50),
        defaultPct = 25)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("total_tokens"))
        .orderBy("source"),
    """WITH admitted AS (
      |  SELECT * FROM documents
      |  WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 <
      |    CASE WHEN source IN ('src0', 'src1') THEN 100
      |         WHEN source IN ('src2', 'src3') THEN 50
      |         ELSE 25 END)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
      |FROM admitted GROUP BY source ORDER BY source""".stripMargin)

  /** Temperature-flattened mixture (Sampling.temperatureMixture): admit each
    * source at rate sqrt(w_min)/sqrt(w_s) of its token mass — the
    * "rebalance sources by w^alpha, alpha=0.5" step of a multilingual /
    * multi-source training mix, as a deterministic md5-bucket filter.
    * sqrt and division are correctly-rounded IEEE ops, so the oracle
    * reproduces every admission threshold bit-for-bit.
    */
  private val temperatureMixture = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.temperatureMixture(
        Tables.documents(s, dir), "doc_id", "source",
        tokenCount(col("text")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("total_tokens"))
        .orderBy("source"),
    """WITH tw AS (
      |  SELECT source, CAST(SUM(len(string_split(trim(text), ' '))) AS DOUBLE) AS w
      |  FROM documents GROUP BY 1),
      |mn AS (SELECT MIN(w) AS wmin FROM tw),
      |th AS (SELECT source, floor(10000.0 * (sqrt(wmin) / sqrt(w))) AS thresh
      |       FROM tw CROSS JOIN mn),
      |adm AS (
      |  SELECT d.source, d.text FROM documents d JOIN th USING (source)
      |  WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      |        % 10000 < thresh)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
      |FROM adm GROUP BY 1 ORDER BY source""".stripMargin)

  /** Exact heavy hitters via count-min prefilter (HeavyHitters.heavyTokens):
    * terms with corpus frequency ≥ 1% of the token stream — the
    * stop-word/stop-shingle discovery pass, with sketch-bounded memory
    * instead of a full-vocabulary combine. CMS never underestimates, so the
    * exact verify pass makes the result equal a plain groupBy + HAVING,
    * which is exactly what the oracle runs.
    */
  private val heavyTokens = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val minFreq = docs
        .agg(((sum(tokenCount(col("text"))) + 99L) / 100L).cast("long"))
        .head().getLong(0)
      graft.operators.HeavyHitters.heavyTokens(docs, "text", minFreq)
        .orderBy("term")
    },
    """WITH tot AS (
      |  SELECT (SUM(len(string_split(trim(text), ' '))) + 99) // 100 AS t
      |  FROM documents),
      |tf AS (SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents)
      |SELECT term, COUNT(*) AS freq FROM tf
      |GROUP BY term HAVING COUNT(*) >= (SELECT t FROM tot)
      |ORDER BY term""".stripMargin)

  /** Vocabulary build + corpus encoding (Vocabulary.dictionary/encode):
    * stable frequency-ranked term ids, documents rewritten as id sequences
    * — verified via a per-doc position-weighted checksum (sum of pos·vid),
    * which pins every id at every position without shipping the arrays.
    * The oracle rebuilds the same dictionary (count desc, term) and replays
    * the checksum.
    */
  private val vocabEncode = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val dict = graft.operators.Vocabulary.dictionary(docs, "text")
      graft.operators.Vocabulary.encode(docs, "doc_id", "text", dict)
        .filter(col("doc_id") < 100)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("pos") * col("vid")).as("checksum"),
          min(col("vid")).as("min_vid"),
          max(col("vid")).as("max_vid"))
        .transform(d => graft.core.QueryDef.orderedOut(d, "doc_id"))
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |pos AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS term
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
      |tf AS (SELECT term, COUNT(*) AS freq FROM pos GROUP BY 1),
      |vocab AS (
      |  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT) AS vid
      |  FROM tf)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(pos * vid) AS BIGINT) AS checksum,
      |  MIN(vid) AS min_vid, MAX(vid) AS max_vid
      |FROM pos JOIN vocab USING (term)
      |WHERE doc_id < 100 GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Context-window chunking: split each document's token stream into
    * fixed-size chunks (size 32, no overlap) — the sequence-packing /
    * costing pass before tokenization. The generator (explode) is its own
    * select step (Spark 4 forbids nested generators in expressions); all
    * chunk arithmetic stays codegen'd.
    */
  private val tokenChunks = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"), size(col("t")).as("n"))
        .select(col("doc_id"), col("t"), col("n"),
          explode(sequence(lit(0L), floor((col("n") + 31) / 32).cast("long") - 1)).as("i"))
        .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
          least(lit(32), col("n") - col("i") * 32).cast("long").as("n_tokens"),
          element_at(col("t"), (col("i") * 32 + 1).cast("int")).as("first_token"))
        .orderBy("doc_id", "chunk_id"),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t,
      |        len(string_split(trim(text), ' ')) n FROM documents),
      |chunks AS (SELECT doc_id, t, n, unnest(range(0, (n + 31) // 32)) AS i FROM toks)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      |  CAST(least(32, n - i * 32) AS BIGINT) AS n_tokens,
      |  t[CAST(i * 32 + 1 AS INT)] AS first_token
      |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin)

  /** GPT-style sequence packing (concat-and-chunk at 256 tokens): global
    * token offset per document via Packing's distributed prefix sum (range
    * shards + per-shard windows — never one global unpartitioned window),
    * then bin indices and the boundary-straddle flag. The oracle computes
    * the same offsets with a plain window cumsum, which is exactly what the
    * two-phase form must reproduce.
    */
  private val sequencePacking = QueryDef(
    (s, dir) =>
      graft.operators.Packing.sequencePacking(
        Tables.documents(s, dir)
          .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", capacity = 256)
        .select("doc_id", "n_tokens", "offset", "bin_first", "bin_last", "spans_boundary")
        .orderBy("doc_id"),
    """WITH toks AS (SELECT doc_id, len(string_split(trim(text), ' ')) n FROM documents),
      |off AS (SELECT doc_id, n,
      |         coalesce(SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) o
      |        FROM toks)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(o AS BIGINT) AS "offset",
      |  CAST(o // 256 AS BIGINT) AS bin_first,
      |  CAST((o + n - 1) // 256 AS BIGINT) AS bin_last,
      |  (o // 256 != (o + n - 1) // 256) AS spans_boundary
      |FROM off ORDER BY doc_id""".stripMargin)

  /** Exactly-N-per-source stratified sample, deterministically ranked by
    * key md5 (stable across runs/engines/partitionings) — the balanced
    * eval-subset primitive. One shuffle on the group key.
    */
  private val stratified = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.stratifiedSample(
        Tables.documents(s, dir), "doc_id", "source", nPerGroup = 5)
        .select("source", "doc_id", "sample_rank")
        .orderBy("source", "doc_id"),
    """SELECT source, doc_id, sample_rank FROM (
      |  SELECT source, doc_id,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
      |  FROM documents)
      |WHERE sample_rank <= 5 ORDER BY source, doc_id""".stripMargin)

  /** Contamination audit: distinct corpus documents sharing a word trigram
    * with each pseudo-benchmark document (the 10 lowest doc_ids) — the
    * report an eval-set owner reads before choosing removal thresholds
    * (TextDedup.contaminationReport, broadcast shingle-hash join; hash vs
    * string shingle keys classify identically, as pinned by q41/q63).
    */
  private val contaminationReport = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.TextDedup.contaminationReport(
        docs, "doc_id", "text", docs.filter(col("doc_id") < 10), "doc_id", "text", n = 3)
        .orderBy("bench_id")
    },
    """WITH sh AS (SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |  FROM (SELECT doc_id, string_split(trim(text), ' ') t FROM documents)
      |  WHERE len(t) >= 3),
      |bench AS (SELECT DISTINCT doc_id AS bench_id, s FROM sh WHERE doc_id < 10),
      |hits AS (SELECT DISTINCT b.bench_id, c.doc_id FROM bench b JOIN sh c USING (s)
      |         WHERE c.doc_id != b.bench_id)
      |SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
      |FROM hits GROUP BY 1 ORDER BY bench_id""".stripMargin)

  /** URL/domain blocklist filtering over deterministically synthesized
    * link-bearing text (the corpus has no URLs; the synthesis is replayed by
    * the oracle, so what's compared is the extraction + suffix-blocklist
    * semantics): drop documents linking to any `.net` domain, then profile
    * kept documents per primary domain (UrlFunctions — pure projections, the
    * admission predicate pushes like any filter).
    */
  private val urlFilter = QueryDef(
    (s, dir) => {
      import graft.functions.UrlFunctions._
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 30), lit(" via https://"), col("source"),
            when(col("doc_id") % 3 === 0, ".com")
              .when(col("doc_id") % 3 === 1, ".org")
              .otherwise(".tracker.net"),
            lit("/p/"), col("doc_id").cast("string"),
            when(col("doc_id") % 7 === 0, " and http://ads.example.net/banner")
              .otherwise("")).as("msg"))
        .filter(!hasBlockedDomain(col("msg"), Seq(".net")))
        .select(primaryDomain(col("msg")).as("domain"),
          size(urlDomains(col("msg"))).cast("long").as("n_urls"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_urls")).as("total_urls"))
        .orderBy("domain")
    },
    """WITH synth AS (
      |  SELECT doc_id,
      |    substring(text, 1, 30) || ' via https://' || source ||
      |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.tracker.net' END ||
      |    '/p/' || CAST(doc_id AS VARCHAR) ||
      |    CASE WHEN doc_id % 7 = 0 THEN ' and http://ads.example.net/banner' ELSE '' END AS msg
      |  FROM documents),
      |kept AS (
      |  SELECT doc_id,
      |    regexp_extract(msg, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
      |    CAST(len(regexp_extract_all(msg, 'https?://([A-Za-z0-9.-]+)', 1)) AS BIGINT) AS n_urls
      |  FROM synth
      |  WHERE len(list_filter(regexp_extract_all(msg, 'https?://([A-Za-z0-9.-]+)', 1),
      |        d -> d LIKE '%.net')) = 0)
      |SELECT domain, COUNT(*) AS n_docs, CAST(SUM(n_urls) AS BIGINT) AS total_urls
      |FROM kept GROUP BY domain ORDER BY domain""".stripMargin)

  /** Deterministic corpus sharding (Sampling.shards): the global-shuffle →
    * N-training-shards step, verified end to end — per-shard volumes, the
    * head document of each shard (pins the intra-shard ORDER, not just
    * membership) and the max position (pins contiguous 1..n numbering).
    * The oracle replays the identical md5 bucket + md5 rank arithmetic.
    */
  private val corpusShards = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.shards(Tables.documents(s, dir), "doc_id", nShards = 8)
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("total_tokens"),
          min(when(col("shard_pos") === 1, col("doc_id"))).as("first_doc"),
          max(col("shard_pos")).as("max_pos"))
        .orderBy("shard"),
    """WITH s AS (
      |  SELECT doc_id, text,
      |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS INTEGER) AS shard,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, text, shard,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS shard_pos
      |  FROM s)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
      |  MIN(CASE WHEN shard_pos = 1 THEN doc_id END) AS first_doc,
      |  MAX(shard_pos) AS max_pos
      |FROM p GROUP BY shard ORDER BY shard""".stripMargin)

  /** TF-IDF term salience (TfIdf.topTerms): top-3 salient terms per doc for
    * the first 50 docs, scored `tf * N / df` — exact rational arithmetic
    * (see the operator scaladoc for why no log()), so DuckDB reproduces
    * scores AND ranks bit-for-bit. The doc filter applies AFTER df/N so
    * corpus statistics stay corpus-wide.
    */
  private val tfidfTerms = QueryDef(
    (s, dir) =>
      graft.operators.TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
        .filter(col("doc_id") < 50)
        .transform(d => graft.core.QueryDef.orderedOut(d, "doc_id", "term")),
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / df.df DESC, tf.term) AS rk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, df, score FROM ranked
      |WHERE rk <= 3 AND doc_id < 50 ORDER BY doc_id, term""".stripMargin)

  /** Word-familiarity quality scoring (TfIdf.vocabulary + familiarity): the
    * top-200 corpus vocabulary by occurrence (collected driver state, like a
    * broadcast build side), then a zero-shuffle scoring pass — fraction of
    * each document's tokens found in the vocabulary. Exact hits/tokens
    * rational, no log-probability float skew. The oracle rebuilds the same
    * vocabulary (count desc, term tie-break) and replays the join-based
    * count the TokenSetHits expression computes in one pass.
    */
  private val wordFamiliarity = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.TfIdf.vocabulary(docs, "text", topN = 200)
      graft.operators.TfIdf.familiarity(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
    },
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
      |vocab AS (
      |  SELECT term FROM (
      |    SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
      |    ORDER BY cnt DESC, term LIMIT 200)),
      |hits AS (
      |  SELECT t.doc_id, COUNT(*) AS vocab_hits
      |  FROM toks t JOIN vocab v USING (term) GROUP BY 1),
      |tc AS (
      |  SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tok_cnt
      |  FROM documents)
      |SELECT tc.doc_id, tc.tok_cnt,
      |  COALESCE(hits.vocab_hits, 0) AS vocab_hits,
      |  CAST(COALESCE(hits.vocab_hits, 0) AS DOUBLE) / tc.tok_cnt AS familiarity
      |FROM tc LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin)

  /** Curriculum buckets (Curriculum.buckets): global difficulty order by
    * (token count, doc_id) cut into 8 equal-width buckets via distributed
    * prefix-sum rank — no unpartitioned window. The gate aggregates per
    * bucket and pins the bucket boundaries (min/max difficulty), the head
    * document, and the exact percentile extremes; the oracle replays the
    * same explicit rank/bucket arithmetic (engine NTILEs differ in
    * remainder placement, so neither side uses one).
    */
  private val curriculum = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).cast("long").as("tok_cnt"))
      graft.operators.Curriculum.buckets(docs, Seq("tok_cnt", "doc_id"), n = 8)
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("tok_cnt")).as("min_tokens"),
          max(col("tok_cnt")).as("max_tokens"),
          min(col("pct_rank")).as("min_pr"),
          max(col("pct_rank")).as("max_pr"))
        .orderBy("bucket")
    },
    """WITH tc AS (
      |  SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tok_cnt
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, tok_cnt,
      |    ROW_NUMBER() OVER (ORDER BY tok_cnt, doc_id) AS rank,
      |    COUNT(*) OVER () AS total
      |  FROM tc)
      |SELECT ((rank - 1) * 8) // total + 1 AS bucket,
      |  COUNT(*) AS n_docs,
      |  MIN(tok_cnt) AS min_tokens,
      |  MAX(tok_cnt) AS max_tokens,
      |  MIN(CASE WHEN total > 1 THEN CAST(rank - 1 AS DOUBLE) / (total - 1) ELSE 0.0 END) AS min_pr,
      |  MAX(CASE WHEN total > 1 THEN CAST(rank - 1 AS DOUBLE) / (total - 1) ELSE 0.0 END) AS max_pr
      |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)

  /** Composed round-5 pipeline: temperature-flattened admission →
    * Bloom-filter decontamination → exact dedup → per-source corpus stats —
    * the operators a pretraining data run chains, verified END TO END in one
    * gate (each stage is also gated alone: q100, q96, q40). The oracle
    * replays the full chain: sqrt-threshold admission, 5-gram overlap
    * removal against the benchmark docs, then canonical-per-fingerprint.
    */
  private val corpusPipeline2 = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val admitted = graft.operators.Sampling.temperatureMixture(
        docs, "doc_id", "source", tokenCount(col("text")).cast("long"))
      val bench = docs.filter(col("doc_id") < 3)
      val clean = graft.operators.TextDedup.decontaminateBloom(
        admitted, "doc_id", "text", bench, "text", n = 5)
      graft.operators.TextDedup.dropExactDuplicates(clean, "doc_id", "text")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("total_tokens"))
        .orderBy("source")
    },
    """WITH tw AS (
      |  SELECT source, CAST(SUM(len(string_split(trim(text), ' '))) AS DOUBLE) AS w
      |  FROM documents GROUP BY 1),
      |mn AS (SELECT MIN(w) AS wmin FROM tw),
      |th AS (SELECT source, floor(10000.0 * (sqrt(wmin) / sqrt(w))) AS thresh
      |       FROM tw CROSS JOIN mn),
      |adm AS (
      |  SELECT d.* FROM documents d JOIN th USING (source)
      |  WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      |        % 10000 < thresh),
      |bsh AS (SELECT DISTINCT unnest(
      |    [array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]) AS sh
      |  FROM (SELECT string_split(trim(text), ' ') t FROM documents WHERE doc_id < 3)
      |  WHERE len(t) >= 5),
      |contaminated AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, unnest(
      |      [array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]) AS sh
      |    FROM (SELECT doc_id, string_split(trim(text), ' ') t FROM adm)
      |    WHERE len(t) >= 5)
      |  WHERE sh IN (SELECT sh FROM bsh)),
      |clean AS (
      |  SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
      |  FROM adm WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |keepers AS (SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY fp)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
      |FROM clean WHERE doc_id IN (SELECT doc_id FROM keepers)
      |GROUP BY source ORDER BY source""".stripMargin)

  /** Quality-filter AUDIT: per-document accept/reject with a named reason
    * for every rule (length band, stopword presence, word-shape, top-word
    * and duplicate-trigram repetition) — the auditable form of a
    * pretraining quality gate, where "how many docs died, and to which
    * rule" is the report data curators actually read. One zero-shuffle
    * projection (length/stopword/shape are plain expressions, the
    * repetition signals one NgramFreqStats pass) followed by a tally; the
    * oracle replays every rule.
    */
  private val qualityReasons = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          length(col("text")).between(50, 5000).as("len_ok"),
          (stopwordRatio(col("text"), stopwords) > 0.0).as("stop_ok"),
          avgWordLen(col("text")).between(2.0, 12.0).as("shape_ok"),
          repetitionSignals(col("text")).as("r"))
        .select(col("source"), col("len_ok"), col("stop_ok"), col("shape_ok"),
          (col("r.top_word_frac") < 0.2).as("topword_ok"),
          (col("r.dup_trigram_frac") < 0.5).as("duptri_ok"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("len_ok") && col("stop_ok") && col("shape_ok") &&
            col("topword_ok") && col("duptri_ok"), 1L).otherwise(0L)).as("n_accepted"),
          sum(when(!col("len_ok"), 1L).otherwise(0L)).as("n_len_fail"),
          sum(when(!col("stop_ok"), 1L).otherwise(0L)).as("n_stop_fail"),
          sum(when(!col("shape_ok"), 1L).otherwise(0L)).as("n_shape_fail"),
          sum(when(!col("topword_ok"), 1L).otherwise(0L)).as("n_topword_fail"),
          sum(when(!col("duptri_ok"), 1L).otherwise(0L)).as("n_duptri_fail"))
        .orderBy("source"),
    """WITH toks AS (SELECT doc_id, source, text, string_split(trim(text), ' ') t FROM documents),
      |uni AS (SELECT doc_id, unnest(t) g FROM toks),
      |uc AS (SELECT doc_id, g, COUNT(*) c FROM uni GROUP BY 1, 2),
      |us AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) total, MAX(c) maxc FROM uc GROUP BY 1),
      |tri AS (SELECT doc_id, unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) g
      |        FROM toks WHERE len(t) >= 3),
      |tc AS (SELECT doc_id, g, COUNT(*) c FROM tri GROUP BY 1, 2),
      |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) total,
      |         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) dupc FROM tc GROUP BY 1),
      |flags AS (
      |  SELECT k.source,
      |    length(k.text) BETWEEN 50 AND 5000 AS len_ok,
      |    CAST(len(list_filter(k.t, x -> x IN ('the','a','of','and','data'))) AS DOUBLE)
      |      / len(k.t) > 0.0 AS stop_ok,
      |    CAST(length(replace(trim(k.text), ' ', '')) AS DOUBLE) / len(k.t)
      |      BETWEEN 2.0 AND 12.0 AS shape_ok,
      |    (CASE WHEN coalesce(us.total, 0) = 0 THEN 0.0
      |          ELSE CAST(us.maxc AS DOUBLE) / us.total END) < 0.2 AS topword_ok,
      |    (CASE WHEN coalesce(ts.total, 0) = 0 THEN 0.0
      |          ELSE CAST(ts.dupc AS DOUBLE) / ts.total END) < 0.5 AS duptri_ok
      |  FROM toks k LEFT JOIN us ON k.doc_id = us.doc_id
      |  LEFT JOIN ts ON k.doc_id = ts.doc_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN len_ok AND stop_ok AND shape_ok AND topword_ok AND duptri_ok
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
      |  CAST(SUM(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_fail,
      |  CAST(SUM(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_fail,
      |  CAST(SUM(CASE WHEN NOT shape_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_shape_fail,
      |  CAST(SUM(CASE WHEN NOT topword_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_topword_fail,
      |  CAST(SUM(CASE WHEN NOT duptri_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_duptri_fail
      |FROM flags GROUP BY source ORDER BY source""".stripMargin)

  /** Duplicated-span audit (Lee et al. substring dedup): per-doc count and
    * mass of maximal 8-token spans shared verbatim with another document.
    * The oracle mirrors the positional-window pipeline with string windows;
    * the Spark path groups on 64-bit positional shingle hashes — identical
    * results absent a 2^-64 collision.
    */
  private val dupSpans = QueryDef(
    (s, dir) =>
      graft.operators.SpanDedup
        .dupSpanStats(Tables.documents(s, dir), "doc_id", "text", k = 8)
        // materialize-before-global-sort (QueryDef.orderedOut): the range
        // sampler otherwise re-runs the final rebuild/join stage
        .transform(d => graft.core.QueryDef.orderedOut(d, "doc_id")),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, w := array_to_string(t[i:i+7], ' '))
      |                              for i in range(1, len(t) - 6)]) AS u
      |       FROM toks WHERE len(t) >= 8),
      |win AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM sh),
      |dupw AS (SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
      |hits AS (SELECT doc_id, pos FROM win JOIN dupw USING (w)),
      |m AS (SELECT doc_id, pos,
      |        MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM hits),
      |sp AS (SELECT doc_id, pos,
      |        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM m),
      |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 8 AS e FROM sp GROUP BY 1, 2),
      |stats AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS dup_tokens FROM spans GROUP BY 1)
      |SELECT d.doc_id, CAST(n_spans AS BIGINT) AS n_spans,
      |  CAST(dup_tokens AS BIGINT) AS dup_tokens,
      |  CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS n_tokens,
      |  CAST(dup_tokens AS DOUBLE) / len(string_split(trim(d.text), ' ')) AS dup_frac
      |FROM stats JOIN documents d USING (doc_id) ORDER BY d.doc_id""".stripMargin)

  /** Span-granular dedup applied: strip cross-document duplicated 8-token
    * spans, keeping each passage's occurrences in its lowest document id.
    * Every document survives (possibly emptied) — dropping emptied rows is
    * caller policy, and the gate checks the rebuilt text byte-for-byte.
    */
  private val stripSpans = QueryDef(
    (s, dir) =>
      graft.operators.SpanDedup
        .stripSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)
        .select(col("doc_id"), col("text").as("clean_text"), col("kept_tokens"))
        .transform(d => graft.core.QueryDef.orderedOut(d, "doc_id")),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, w := array_to_string(t[i:i+7], ' '))
      |                              for i in range(1, len(t) - 6)]) AS u
      |       FROM toks WHERE len(t) >= 8),
      |win AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM sh),
      |dupw AS (SELECT w, MIN(doc_id) AS min_doc FROM win GROUP BY w
      |         HAVING COUNT(DISTINCT doc_id) >= 2),
      |hits AS (SELECT win.doc_id, pos FROM win JOIN dupw USING (w)
      |         WHERE win.doc_id > dupw.min_doc),
      |m AS (SELECT doc_id, pos,
      |        MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM hits),
      |sp AS (SELECT doc_id, pos,
      |        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM m),
      |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 8 AS e FROM sp GROUP BY 1, 2),
      |tokpos AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, tok := t[i])
      |                                  for i in range(1, len(t) + 1)]) AS u FROM toks),
      |toku AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tokpos),
      |kept AS (SELECT k.doc_id, k.pos, k.tok FROM toku k
      |         WHERE NOT EXISTS (SELECT 1 FROM spans s
      |                           WHERE s.doc_id = k.doc_id AND k.pos >= s.s AND k.pos < s.e)),
      |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
      |               COUNT(*) AS kept_tokens FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
      |       CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens
      |FROM documents d LEFT JOIN reb r USING (doc_id) ORDER BY d.doc_id""".stripMargin)

  /** Sketch-path dedup end-to-end: MinHash signatures → LSH bands →
    * estimated-Jaccard verify → transitive closure, in one composed call.
    * Rows-only gate (sketches aren't SQL-reproducible); recall vs the exact
    * n-gram closure is asserted in SemDedupSpec.
    */
  /** q113: the full sketch dedup path (signatures -> bands -> verify ->
    * transitive closure) — oracle-green via the md5-affine family (q42's
    * replay) plus the recursive reachability closure (q69's pattern), so
    * the CLUSTER ASSIGNMENT itself is hash-verified end to end.
    */
  private val minhashDupGroups = QueryDef(
    (s, dir) =>
      graft.operators.DupGroups.minHashDupGroups(
        Tables.documents(s, dir), "doc_id", "text",
        n = 3, k = 128, bands = 32, minJaccard = 0.5, md5Parity = true)
        .orderBy("doc_id"),
    Some(minhashMd5Ctes +
      """,
        |vf AS (SELECT c.doc_a, c.doc_b,
        |        CAST(list_sum([CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END
        |                       for i in range(1, 129)]) AS DOUBLE) / 128 AS est_jaccard
        |      FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
        |      JOIN sig sb ON c.doc_b = sb.doc_id),
        |prs AS (SELECT doc_a, doc_b FROM vf WHERE est_jaccard >= 0.5),
        |edges AS (SELECT doc_a AS eu, doc_b AS ev FROM prs
        |          UNION ALL SELECT doc_b, doc_a FROM prs),
        |reach(src, dst) AS (
        |  SELECT eu, eu FROM edges
        |  UNION
        |  SELECT r.src, e.ev FROM reach r JOIN edges e ON r.dst = e.eu)
        |SELECT CAST(src AS BIGINT) AS doc_id, CAST(MIN(dst) AS BIGINT) AS group_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin))

  /** Unigram LM perplexity scoring (CCNet-style): train token log-probs on
    * the corpus, score each document by mean negative log-likelihood via
    * the zero-shuffle broadcast kernel. The oracle rebuilds the LM in SQL
    * and folds each document's log-probs in token order (list built ORDER
    * BY position), matching the kernel's summation order bit-for-bit.
    */
  private val unigramNll = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val (terms, logps, oov) =
        graft.operators.UnigramLm.collectLm(
          graft.operators.UnigramLm.termCounts(docs, "text"))
      graft.operators.UnigramLm
        .scoreBroadcast(docs, "doc_id", "text", terms, logps, oov)
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
      |        FROM (SELECT doc_id, unnest([struct_pack(pos := i, tok := t[i])
      |                                     for i in range(1, len(t) + 1)]) u
      |              FROM toks)),
      |unig AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) cnt FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM unig),
      |lp AS (SELECT tok, ln(cnt / total) lp FROM unig, tot),
      |agg AS (SELECT doc_id, list_sum(list(lp ORDER BY pos)) s, COUNT(*) n
      |        FROM tok JOIN lp USING (tok) GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, -s / n AS nll
      |FROM agg ORDER BY doc_id""".stripMargin)

  /** The LM's JOIN scoring path on the oracle — the beyond-broadcast-
    * vocabulary route (explode + hash join + re-aggregate) that q114's
    * broadcast kernel does not exercise. Exact, not tolerance-based: the
    * log-prob table is computed on the DRIVER (collectLm's Math.log is
    * bitwise DuckDB-ln-equal; Spark's distributed log is StrictMath) and
    * the ordered variant (UnigramLm.scoreJoinOrdered) folds each
    * document's log-probs in POSITION order, matching the oracle's
    * list_sum(list(lp ORDER BY pos)) bit for bit — a round()-tolerance
    * gate was rejected because this corpus has documents within 1e-9 of a
    * 6-decimal rounding boundary, exactly where arrival-order drift flips
    * the rounded value. The plain streaming scoreJoin stays spec-bounded
    * against the kernel (UnigramLmSpec, 1e-9).
    */
  private val lmScoreJoin = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val (terms, logps, _) = graft.operators.UnigramLm.collectLm(
        graft.operators.UnigramLm.termCounts(docs, "text"))
      import s.implicits._
      val lm = terms.zip(logps).toDF("term", "logp")
      // oov floor is irrelevant: the LM is trained on the corpus it scores
      graft.operators.UnigramLm.scoreJoinOrdered(docs, "doc_id", "text", lm,
        oovLogP = Double.NegativeInfinity)
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
      |        FROM (SELECT doc_id, unnest([struct_pack(pos := i, tok := t[i])
      |                                     for i in range(1, len(t) + 1)]) u
      |              FROM toks)),
      |unig AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) cnt FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM unig),
      |lp AS (SELECT tok, ln(cnt / total) lp FROM unig, tot),
      |agg AS (SELECT doc_id, list_sum(list(lp ORDER BY pos)) s, COUNT(*) n
      |        FROM tok JOIN lp USING (tok) GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, -s / n AS nll
      |FROM agg ORDER BY doc_id""".stripMargin)

  /** Interpolated bigram LM (BigramLm): train unigram + adjacent-pair
    * counts on the first 300 documents (the "reference corpus"), score the
    * WHOLE corpus — so the seen-pair, unigram-backoff, and OOV ladder all
    * fire on real data (a same-corpus gate like q114 never leaves the
    * seen-pair rung). λ = 0.75 is dyadic, so driver `1 - λ` and the SQL
    * literal `0.25` are the same double and every probability replays term
    * for term; logs are driver-side Math.log (DuckDB-ln bitwise) and the
    * per-document fold is positional on both engines.
    */
  private val bigramNll = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = graft.operators.BigramLm.train(
        docs.filter(col("doc_id") < 300), "text", lambda = 0.75)
      graft.operators.BigramLm.scoreBroadcast(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
      |        FROM (SELECT doc_id, unnest([struct_pack(pos := i, tok := t[i])
      |                                     for i in range(1, len(t) + 1)]) u
      |              FROM toks)),
      |unig AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) cnt FROM tok
      |         WHERE doc_id < 300 GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM unig),
      |big AS (SELECT prev, tok, CAST(COUNT(*) AS DOUBLE) cnt2
      |        FROM (SELECT tok, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) prev
      |              FROM tok WHERE doc_id < 300)
      |        WHERE prev IS NOT NULL GROUP BY 1, 2),
      |seq AS (SELECT doc_id, pos, tok,
      |          lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok),
      |lp AS (SELECT s.doc_id, s.pos,
      |        CASE WHEN s.prev IS NULL THEN ln(COALESCE(u.cnt, 0.5) / tot.total)
      |             WHEN b.cnt2 IS NOT NULL
      |               THEN ln(0.75 * (b.cnt2 / up.cnt) + 0.25 * (u.cnt / tot.total))
      |             ELSE ln(0.25 * (COALESCE(u.cnt, 0.5) / tot.total)) END AS lp
      |       FROM seq s
      |       LEFT JOIN unig u ON u.tok = s.tok
      |       LEFT JOIN unig up ON up.tok = s.prev
      |       LEFT JOIN big b ON b.prev = s.prev AND b.tok = s.tok
      |       CROSS JOIN tot),
      |agg AS (SELECT doc_id, list_sum(list(lp ORDER BY pos)) s, COUNT(*) n
      |        FROM lp GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, -s / n AS nll
      |FROM agg ORDER BY doc_id""".stripMargin)

  /** Naive-Bayes domain tagging (DomainClassifier): train per-source token
    * log-odds on the first 300 documents, tag the whole corpus with the
    * argmax source and the top-two margin. The oracle is label-generic —
    * it rebuilds priors, shared-vocab smoothing, and the per-label
    * positional log-prob fold in SQL and replays the (score desc, label
    * asc) argmax, so every branch (seen token, in-vocab-zero-count,
    * OOV floor) is hash-exact.
    */
  private val domainTag = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = graft.operators.DomainClassifier.train(
        docs.filter(col("doc_id") < 300), "source", "text")
      graft.operators.DomainClassifier.tag(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, source, string_split(trim(text), ' ') t FROM documents),
      |tok AS (SELECT doc_id, source, u.pos AS pos, u.tok AS tok
      |        FROM (SELECT doc_id, source, unnest([struct_pack(pos := i, tok := t[i])
      |                                             for i in range(1, len(t) + 1)]) u
      |              FROM toks)),
      |ref AS (SELECT * FROM tok WHERE doc_id < 300),
      |labs AS (SELECT source AS lab, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
      |                CAST(COUNT(*) AS DOUBLE) AS total
      |         FROM ref GROUP BY source),
      |nd AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS nd FROM labs),
      |v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM ref),
      |cnts AS (SELECT source AS lab, tok, CAST(COUNT(*) AS DOUBLE) AS cnt
      |         FROM ref GROUP BY 1, 2),
      |lp AS (SELECT s.doc_id, s.pos, l.lab,
      |         ln((COALESCE(c.cnt, 0) + 0.5) / (l.total + 0.5 * (v.v + 1))) AS lp
      |       FROM tok s CROSS JOIN labs l
      |       LEFT JOIN cnts c ON c.lab = l.lab AND c.tok = s.tok
      |       CROSS JOIN v),
      |folded AS (SELECT doc_id, lab, list_sum(list(lp ORDER BY pos)) AS lsum,
      |                  COUNT(*) AS n
      |           FROM lp GROUP BY doc_id, lab),
      |sc AS (SELECT f.doc_id, f.lab, f.n, ln(l.n_docs / nd.nd) + f.lsum AS s
      |       FROM folded f JOIN labs l ON l.lab = f.lab CROSS JOIN nd),
      |ranked AS (SELECT doc_id, lab, n, s,
      |             row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lab ASC) AS rn
      |           FROM sc)
      |SELECT doc_id,
      |       CAST(MAX(n) AS BIGINT) AS n_tokens,
      |       MAX(CASE WHEN rn = 1 THEN lab END) AS pred_label,
      |       MAX(CASE WHEN rn = 1 THEN s END) - MAX(CASE WHEN rn = 2 THEN s END) AS margin
      |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** One-pass multi-pattern blocklist scan (BlocklistScan / Aho–Corasick):
    * per-document total occurrences (overlaps included — one per match end
    * position) and distinct terms hit, for a 4-term blocklist probed in a
    * single automaton walk. The oracle replays the same counts with a
    * character position scan, so the overlap contract and the fail-chain
    * total collapsing are both under the exact hash.
    */
  private val blocklistScan = QueryDef(
    (s, dir) =>
      graft.operators.BlocklistScan.scan(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "table", "a a", "quantum"))
        .orderBy("doc_id"),
    """WITH terms AS (SELECT unnest(['spark', 'table', 'a a', 'quantum']) AS term),
      |hits AS (SELECT d.doc_id, t.term,
      |          CAST(len([p for p in range(1, len(d.text) - len(t.term) + 2)
      |                    if substr(d.text, p, len(t.term)) = t.term]) AS BIGINT) AS c
      |         FROM documents d CROSS JOIN terms t)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_hits,
      |       CAST(COUNT(CASE WHEN c > 0 THEN 1 END) AS BIGINT) AS n_terms
      |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** BPE training's first-iteration statistic under the exact hash: the
    * frequency-weighted adjacent character pairs of the word-frequency
    * table (the quantity the first merge maximizes), top 30 by (count
    * desc, pair asc). The iterative merge learning itself isn't
    * SQL-expressible — q141 hash-gates the full encode against a recursive
    * DuckDB replay of a fixed merge list, with golden merges and
    * round-trip invariants in BpeSpec.
    */
  private val bpePairStats = QueryDef(
    (s, dir) =>
      graft.operators.Bpe.wordCounts(Tables.documents(s, dir), "text")
        .filter(length(col("word")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("cnt").as("cnt"))
        .orderBy(desc("cnt"), asc("pair")).limit(30),
    """WITH toks AS (SELECT string_split(trim(text), ' ') t FROM documents),
      |tok AS (SELECT unnest(t) AS word FROM toks),
      |w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY word),
      |p AS (SELECT unnest([substr(word, i, 2) for i in range(1, len(word))]) AS pair,
      |             cnt
      |      FROM w WHERE len(word) >= 2)
      |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS cnt FROM p GROUP BY pair
      |ORDER BY cnt DESC, pair ASC LIMIT 30""".stripMargin)

  /** BPE ENCODE under the exact hash: apply a FIXED literal merge table
    * (driver state, exactly how a production tokenizer ships — the merges
    * file is an artifact, not re-learned at encode time) to every
    * document via the zero-shuffle BpeEncode kernel. The oracle embeds
    * the same merges as a VALUES literal and replays the kernel's actual
    * algorithm — repeatedly take the lowest-rank pair present, merge its
    * occurrences left-to-right non-overlapping (run-parity logic for
    * a==b pairs) — as a recursive CTE over the DISTINCT words (vocabulary-
    * bounded, not corpus-bounded), then joins subword counts back to
    * positions. Merge LEARNING stays driver state pinned by BpeSpec's
    * golden merges and gated statistically by q140's pair-count oracle.
    */
  private val bpeEncode: QueryDef = {
    // chained (th→the), self-pair (ee, oo, ll, ss), and multi-char-input
    // (te+r, in+g) merges so every kernel branch is under the hash
    val fixedMerges = Seq(
      "t" -> "h", "th" -> "e", "a" -> "n", "an" -> "d", "i" -> "n",
      "e" -> "r", "o" -> "n", "r" -> "e", "e" -> "e", "o" -> "o",
      "s" -> "t", "a" -> "t", "e" -> "n", "o" -> "r", "te" -> "r",
      "a" -> "l", "d" -> "e", "in" -> "g", "l" -> "l", "s" -> "s")
    def esc(x: String) = x.replace("'", "''")
    val vals = fixedMerges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '${esc(a)}', '${esc(b)}')" }
      .mkString(", ")
    QueryDef(
      (s, dir) =>
        graft.operators.Bpe.encode(Tables.documents(s, dir), "doc_id", "text",
            graft.operators.Bpe.Model(fixedMerges))
          .select(col("doc_id"), size(col("subwords")).as("n_subwords"),
            col("subwords")(0).as("first_subword"),
            element_at(col("subwords"), -1).as("last_subword"))
          .orderBy("doc_id"),
      s"""WITH RECURSIVE
         |ml AS (SELECT list(struct_pack(r := r, a := a, b := b) ORDER BY r) AS ms
         |       FROM (VALUES $vals) AS m(r, a, b)),
         |toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         |tok AS (SELECT doc_id, u.pos AS pos, u.word AS word
         |        FROM (SELECT doc_id, unnest([struct_pack(pos := i, word := t[i])
         |                                     for i in range(1, len(t) + 1)]) u
         |              FROM toks)),
         |w AS (SELECT DISTINCT word FROM tok),
         |enc AS (
         |  SELECT word, [substr(word, i, 1) for i in range(1, len(word) + 1)] AS syms,
         |         false AS done
         |  FROM w
         |  UNION ALL
         |  SELECT word,
         |    CASE WHEN br IS NULL THEN syms
         |         WHEN ba <> bb THEN flatten([
         |           CASE WHEN syms[i] = ba AND syms[i + 1] = bb THEN [ba || bb]
         |                WHEN i > 1 AND syms[i - 1] = ba AND syms[i] = bb THEN []
         |                ELSE [syms[i]] END
         |           for i in range(1, len(syms) + 1)])
         |         ELSE flatten([
         |           CASE WHEN list_contains(keep, i) THEN [ba || bb]
         |                WHEN list_contains(keep, i - 1) THEN []
         |                ELSE [syms[i]] END
         |           for i in range(1, len(syms) + 1)])
         |    END AS syms,
         |    br IS NULL AS done
         |  FROM (
         |    SELECT word, syms, br, ba, bb,
         |      [i for i in range(1, len(syms))
         |         IF syms[i] = ba AND syms[i + 1] = bb
         |            AND (i - (coalesce(list_max([j for j in starts IF j < i]), 0) + 1)) % 2 = 0] AS keep
         |    FROM (
         |      SELECT word, syms, br,
         |        CASE WHEN br IS NULL THEN NULL ELSE ms[br + 1].a END AS ba,
         |        CASE WHEN br IS NULL THEN NULL ELSE ms[br + 1].b END AS bb,
         |        CASE WHEN br IS NULL THEN NULL
         |             ELSE [j for j in range(1, len(syms) + 1) IF syms[j] <> ms[br + 1].a] END AS starts
         |      FROM (
         |        SELECT word, syms,
         |          list_min([mm.r for mm in ms
         |            IF len([i for i in range(1, len(syms))
         |                    IF syms[i] = mm.a AND syms[i + 1] = mm.b]) > 0]) AS br
         |        FROM enc, ml
         |        WHERE NOT done) s1, ml) s2) s3
         |),
         |fin AS (SELECT word, syms FROM enc WHERE done),
         |ew AS (SELECT t.doc_id, t.pos, f.syms, len(f.syms) AS nsub
         |       FROM tok t JOIN fin f USING (word))
         |SELECT doc_id,
         |  CAST(SUM(nsub) AS INT) AS n_subwords,
         |  (list(syms ORDER BY pos)[1])[1] AS first_subword,
         |  (list(syms ORDER BY pos DESC)[1])[-1] AS last_subword
         |FROM ew GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Composed pipeline v4 — the round's new operators chained end-to-end
    * under ONE oracle: Aho–Corasick blocklist decontamination (drop any
    * doc hitting the list) → bigram-LM scoring trained on the surviving
    * sub-300 slice → per-source grouped sequence packing of the survivors,
    * with the nll riding through the prefix sum. Every stage's arithmetic
    * replays in SQL, so the final packed layout (bin assignment + straddle
    * flags) is hash-exact against the full composition. The kept frame is
    * pinned once (three consumers: LM train, scoring, source join).
    */
  private val corpusPipeline4 = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = graft.core.Materialize.pin(docs.join(
          graft.operators.BlocklistScan.scan(docs, "doc_id", "text",
            Seq("a a", "merge batch"))
            .filter(col("n_hits") === 0).select("doc_id"),
          Seq("doc_id")))
      val model = graft.operators.BigramLm.train(
        kept.filter(col("doc_id") < 300), "text", lambda = 0.75)
      val scored = graft.operators.BigramLm
        .scoreBroadcast(kept, "doc_id", "text", model)
        .join(kept.select("doc_id", "source"), Seq("doc_id"))
      graft.operators.Packing.groupedSequencePacking(
        scored.select(col("source"), col("doc_id"), col("n_tokens"), col("nll")),
        "source", "doc_id", "n_tokens", capacity = 256)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("nll"),
          col("bin_first"), col("spans_boundary"))
        .orderBy("doc_id")
    },
    """WITH terms AS (SELECT unnest(['a a', 'merge batch']) AS term),
      |bh AS (SELECT d.doc_id,
      |         SUM(len([p for p in range(1, len(d.text) - len(t.term) + 2)
      |                  if substr(d.text, p, len(t.term)) = t.term])) AS n_hits
      |       FROM documents d CROSS JOIN terms t GROUP BY d.doc_id),
      |kept AS (SELECT d.* FROM documents d JOIN bh USING (doc_id)
      |         WHERE bh.n_hits = 0),
      |toks AS (SELECT doc_id, source, string_split(trim(text), ' ') t FROM kept),
      |tok AS (SELECT doc_id, source, u.pos AS pos, u.tok AS tok
      |        FROM (SELECT doc_id, source,
      |                unnest([struct_pack(pos := i, tok := t[i])
      |                        for i in range(1, len(t) + 1)]) u
      |              FROM toks)),
      |unig AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) cnt FROM tok
      |         WHERE doc_id < 300 GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM unig),
      |big AS (SELECT prev, tok, CAST(COUNT(*) AS DOUBLE) cnt2
      |        FROM (SELECT tok, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) prev
      |              FROM tok WHERE doc_id < 300)
      |        WHERE prev IS NOT NULL GROUP BY 1, 2),
      |seq AS (SELECT doc_id, pos, tok,
      |          lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok),
      |lp AS (SELECT s.doc_id, s.pos,
      |        CASE WHEN s.prev IS NULL THEN ln(COALESCE(u.cnt, 0.5) / tot.total)
      |             WHEN b.cnt2 IS NOT NULL
      |               THEN ln(0.75 * (b.cnt2 / up.cnt) + 0.25 * (u.cnt / tot.total))
      |             ELSE ln(0.25 * (COALESCE(u.cnt, 0.5) / tot.total)) END AS lp
      |       FROM seq s
      |       LEFT JOIN unig u ON u.tok = s.tok
      |       LEFT JOIN unig up ON up.tok = s.prev
      |       LEFT JOIN big b ON b.prev = s.prev AND b.tok = s.tok
      |       CROSS JOIN tot),
      |agg AS (SELECT doc_id, list_sum(list(lp ORDER BY pos)) s, COUNT(*) n
      |        FROM lp GROUP BY doc_id),
      |sc AS (SELECT a.doc_id, k.source, CAST(a.n AS BIGINT) AS n_tokens,
      |              -a.s / a.n AS nll
      |       FROM agg a JOIN kept k USING (doc_id)),
      |o AS (SELECT source, doc_id, n_tokens, nll,
      |        COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |      FROM sc)
      |SELECT source, doc_id, n_tokens, nll,
      |  CAST(cum_before // 256 AS BIGINT) AS bin_first,
      |  cum_before // 256 <>
      |    greatest(cum_before // 256, (cum_before + n_tokens - 1) // 256)
      |    AS spans_boundary
      |FROM o ORDER BY doc_id""".stripMargin)

  /** Composed pipeline v5 — this round's operators chained end-to-end
    * under ONE oracle: the q217 attrition predicate chain decides the
    * kept set (NULL-safe, same coalesce-to-false rule), the survivors get
    * a per-source distinct-2 diversity table, and the kept-vs-dropped
    * Hellinger distance (ordered audit fold, sqrt-only arithmetic) rides
    * every row as the recipe's one-number "what did the filter remove"
    * signal. kept is pinned once (diversity + the Hellinger old side).
    */
  private val corpusPipeline5 = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val keep = coalesce(
        length(trim(col("text"))) > 0 &&
          col("n_chars").between(100, 450) &&
          array_contains(
            graft.functions.TextFunctions.hashAlignedTokens(col("text")),
            "the"),
        lit(false))
      val kept = graft.core.Materialize.pin(docs.filter(keep))
      val dropped = docs.filter(!keep)
      val div = graft.operators.CorpusAudit
        .ngramDiversity(kept, Seq("source"), "text", maxN = 2, minN = 2)
        .select(col("source"), col("n_grams"), col("n_distinct"),
          col("diversity"))
      val hel = graft.operators.Drift
        .hellinger(kept, dropped, "text", ordered = true)
        .select(col("hellinger").as("cut_hellinger"))
      div.crossJoin(broadcast(hel)).orderBy("source")
    },
    """WITH flagged AS (
      |  SELECT *, COALESCE(length(trim(text)) > 0
      |    AND n_chars BETWEEN 100 AND 450
      |    AND list_contains(string_split(trim(text), ' '), 'the'), false)
      |    AS keep
      |  FROM documents),
      |kept AS (SELECT * FROM flagged WHERE keep),
      |dropped AS (SELECT * FROM flagged WHERE NOT keep),
      |toks AS (SELECT source, string_split(trim(text), ' ') AS t
      |         FROM kept WHERE trim(text) != ''),
      |g AS (SELECT source,
      |        unnest([array_to_string(t[i:i + 1], ' ')
      |                for i in range(1, len(t))]) AS gram
      |      FROM toks),
      |div AS (SELECT source, COUNT(*) AS n_grams,
      |          COUNT(DISTINCT gram) AS n_distinct,
      |          CAST(COUNT(DISTINCT gram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |            AS diversity
      |        FROM g GROUP BY source),
      |ktok AS (SELECT unnest(string_split(trim(text), ' ')) AS term
      |         FROM kept WHERE trim(text) != ''),
      |dtok AS (SELECT unnest(string_split(trim(text), ' ')) AS term
      |         FROM dropped WHERE trim(text) != ''),
      |co AS (SELECT term, COUNT(*) AS c FROM ktok GROUP BY term),
      |cn AS (SELECT term, COUNT(*) AS c FROM dtok GROUP BY term),
      |j AS (SELECT COALESCE(co.term, cn.term) AS term,
      |        COALESCE(co.c, 0) AS cnt_old, COALESCE(cn.c, 0) AS cnt_new
      |      FROM co FULL OUTER JOIN cn ON co.term = cn.term),
      |tt AS (SELECT SUM(cnt_old) AS t_old, SUM(cnt_new) AS t_new FROM j),
      |dd AS (SELECT term,
      |         sqrt(CAST(cnt_old AS DOUBLE) / CAST(t_old AS DOUBLE))
      |           - sqrt(CAST(cnt_new AS DOUBLE) / CAST(t_new AS DOUBLE)) AS dv
      |       FROM j, tt),
      |hel AS (SELECT CASE WHEN tt.t_old > 0 AND tt.t_new > 0 THEN
      |          sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            (SELECT list(dv * dv ORDER BY term) FROM dd)),
      |            (x, y) -> x + y) / 2.0)
      |        ELSE NULL END AS cut_hellinger FROM tt)
      |SELECT source, n_grams, n_distinct, diversity, cut_hellinger
      |FROM div, hel ORDER BY source""".stripMargin)


  /** Incremental cross-snapshot dedup (TextDedup.dedupIncrement): docs
    * 0-299 are the already-ingested corpus; the incoming batch is every
    * doc from 200 up re-keyed to id+10000 (a new dump overlapping the
    * tail of the last one — the realistic crawl shape). Batch copies of
    * docs 200-299 duplicate ingested content and must drop via the
    * fingerprint anti-join; everything from 300 up is novel and survives.
    * Output: per-language survivor counts + first id.
    */
  private val incrementalDedup = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") < 300)
      val batch = docs.filter(col("doc_id") >= 200)
        .withColumn("doc_id", col("doc_id") + 10000)
      graft.operators.TextDedup.dedupIncrement(batch, corpus, "doc_id", "text")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_id"))
        .orderBy("lang")
    },
    """WITH fp AS (SELECT doc_id, lang,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS f
      |  FROM documents),
      |corpus AS (SELECT DISTINCT f FROM fp WHERE doc_id < 300),
      |batch AS (SELECT doc_id + 10000 AS doc_id, lang, f FROM fp WHERE doc_id >= 200),
      |keep AS (SELECT MIN(doc_id) AS doc_id FROM batch
      |         WHERE f NOT IN (SELECT f FROM corpus) GROUP BY f)
      |SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_id
      |FROM batch WHERE doc_id IN (SELECT doc_id FROM keep)
      |GROUP BY lang ORDER BY lang""".stripMargin)

  /** DSIR importance scoring (Dsir.score): hashed {1,2}-gram bucket
    * distributions estimated for the target (English docs) and the raw
    * corpus, each document scored by the sum of its features' log
    * importance ratios via the zero-shuffle ArrayWeightSum kernel. The
    * oracle rebuilds the bucketed distributions in SQL (same 32-bit md5
    * bucket draw), computes the same smoothed ln-ratio weights, and folds
    * each document's weights in feature-position order — bit-for-bit.
    */
  private val dsirScore = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = graft.operators.Dsir.trainWeightsSubset(
        docs, col("lang") === "en", "text", maxN = 2, numBuckets = 10000)
      graft.operators.Dsir.score(docs, "doc_id", "text", w, maxN = 2)
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS t
      |              FROM documents WHERE trim(text) != ''),
      |fs AS (SELECT doc_id, lang,
      |         list_concat(t, [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS f
      |       FROM toks),
      |feat AS (SELECT doc_id, lang, u.pos AS pos,
      |           CAST('0x' || substring(md5(u.g), 1, 8) AS BIGINT) % 10000 AS b
      |         FROM (SELECT doc_id, lang,
      |                 unnest([struct_pack(pos := i, g := f[i]) for i in range(1, len(f) + 1)]) AS u
      |               FROM fs)),
      |tc AS (SELECT b, COUNT(*) AS c FROM feat WHERE lang = 'en' GROUP BY b),
      |rc AS (SELECT b, COUNT(*) AS c FROM feat GROUP BY b),
      |tt AS (SELECT COUNT(*) AS c FROM feat WHERE lang = 'en'),
      |rt AS (SELECT COUNT(*) AS c FROM feat),
      |w AS (SELECT r.b,
      |        ln((COALESCE(t.c, 0) + 0.5) / (tt.c + 0.5 * 10000)) -
      |        ln((r.c + 0.5) / (rt.c + 0.5 * 10000)) AS w
      |      FROM rc r LEFT JOIN tc t USING (b), tt, rt),
      |agg AS (SELECT doc_id, list_sum(list(w ORDER BY pos)) AS s, COUNT(*) AS n
      |        FROM feat JOIN w USING (b) GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_features, s AS dsir_logw
      |FROM agg ORDER BY doc_id""".stripMargin)

  /** Length-bucketed inference batching (InferenceBatching.wasteReport):
    * documents banded by length, sharded by the stable md5 draw, batched
    * within (band, shard) in deterministic (length, id) order — the
    * serving-side complement of q75's training-side sequence packing.
    * Batch assignment and the padding-waste audit are pure arithmetic,
    * so the gate is exact.
    */
  private val lengthBatches = QueryDef(
    (s, dir) =>
      graft.operators.InferenceBatching.wasteReport(
        Tables.documents(s, dir), "doc_id", "n_chars",
        boundaries = Seq(150, 300, 450), batchSize = 8, numShards = 4)
        .orderBy("bucket"),
    """WITH a AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 300 THEN 1
      |         WHEN n_chars < 450 THEN 2 ELSE 3 END AS bucket,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4
      |      AS shard
      |  FROM documents),
      |r AS (SELECT *,
      |        (ROW_NUMBER() OVER (PARTITION BY bucket, shard
      |                            ORDER BY n_chars, doc_id) - 1) // 8 AS batch_idx
      |      FROM a),
      |pb AS (SELECT bucket, shard, batch_idx, COUNT(*) AS bn,
      |         SUM(n_chars) AS breal, MAX(n_chars) AS bmax
      |       FROM r GROUP BY 1, 2, 3)
      |SELECT bucket, CAST(SUM(bn) AS BIGINT) AS n_rows,
      |  COUNT(*) AS n_batches,
      |  CAST(SUM(breal) AS BIGINT) AS real_tokens,
      |  CAST(SUM(bmax * bn) AS BIGINT) AS padded_tokens,
      |  CAST(SUM(bmax * bn) - SUM(breal) AS DOUBLE) / SUM(bmax * bn) AS waste_frac
      |FROM pb GROUP BY bucket ORDER BY bucket""".stripMargin)

  /** Logistic quality scoring (LogisticQuality.logits): hashed-unigram
    * linear classification — fastText's averaged bag over the same md5
    * feature buckets as DSIR — under a FIXED model, so the gate pins the
    * scoring kernel bit-for-bit (deterministic weight table inlined into
    * both engines; the per-document fold is positional on both).
    * TRAINING is deliberately not oracle-gated: gradient sums arrive in
    * partition order (~ulp drift); LogisticQualitySpec verifies learning
    * (loss descent, holdout accuracy) instead.
    */
  // the FIXED q158 scoring model (training is spec-verified; scoring with
  // fixed weights is oracle-exact) — shared with the calibration gates so
  // the two can never disagree about the model
  private val logitDim = 64
  private val logitBias = 0.25
  private val logitW =
    Array.tabulate(logitDim)(j => ((j * 37 + 11) % 101 - 50) / 100.0)

  /** DuckDB replay of `LogisticQuality.logits` under the fixed model:
    * CTE chain ending in `lg(doc_id, lang, n_features, logit)`.
    */
  private val logitCte: String = {
    val wSql = logitW.map(_.toString).mkString("[", ", ", "]")
    s"""toks AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS t
       |              FROM documents WHERE trim(text) != ''),
       |feat AS (SELECT doc_id, lang, u.pos AS pos,
       |           CAST('0x' || substring(md5(u.g), 1, 8) AS BIGINT) % $logitDim AS b
       |         FROM (SELECT doc_id, lang,
       |                 unnest([struct_pack(pos := i, g := t[i]) for i in range(1, len(t) + 1)]) AS u
       |               FROM toks)),
       |wl AS (SELECT doc_id, lang, pos, (CAST($wSql AS DOUBLE[]))[b + 1] AS w
       |       FROM feat),
       |agg AS (SELECT doc_id, any_value(lang) AS lang,
       |          list_sum(list(w ORDER BY pos)) AS s, COUNT(*) AS n
       |        FROM wl GROUP BY doc_id),
       |lg AS (SELECT doc_id, lang, CAST(n AS BIGINT) AS n_features,
       |         $logitBias + s / n AS logit
       |       FROM agg)""".stripMargin
  }

  private val logisticScore: QueryDef = QueryDef(
    (s, dir) =>
      graft.operators.LogisticQuality.logits(
        Tables.documents(s, dir), "doc_id", "text",
        graft.operators.LogisticQuality.Model(1, logitW, logitBias))
        .orderBy("doc_id"),
    s"""WITH $logitCte
       |SELECT doc_id, n_features, logit, logit > 0 AS pred
       |FROM lg ORDER BY doc_id""".stripMargin)

  // 7 fixed logit-space bins spanning the fixed model's observed score
  // range (~[0, 0.35]); end bins clamp outliers, so every scored row is
  // accounted for even if a future corpus widens the range
  private val calEdges =
    Array(0.0, 0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35)

  private def calScored(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.LogisticQuality.logits(
        Tables.documents(s, dir), "doc_id", "text",
        graft.operators.LogisticQuality.Model(1, logitW, logitBias))
      // label ride-along: a key-equi self-join the optimizer co-partitions
      // (at corpus scale this is the standard enrich shape; the logits
      // frame carries only (id, score), never text)
      .join(Tables.documents(s, dir).select("doc_id", "lang"), Seq("doc_id"))

  /** The bin CASE + per-bin literal-array SQL shared by q198/q199 —
    * generated from the SAME `calEdges`/sigmoid midpoints the Spark side
    * uses, so the two engines see identical doubles.
    */
  private val calRelCte: String = {
    val nBins = calEdges.length - 1
    val binCase = (1 until nBins)
      .map(i => s"WHEN logit < ${calEdges(i)} THEN ${i - 1}")
      .mkString("CASE ", " ", s" ELSE ${nBins - 1} END")
    val lo = calEdges.dropRight(1).map(_.toString).mkString("[", ", ", "]")
    val hi = calEdges.drop(1).map(_.toString).mkString("[", ", ", "]")
    val conf = calEdges.dropRight(1).zip(calEdges.drop(1))
      .map { case (a, b) => (1.0 / (1.0 + math.exp(-(a + b) / 2.0))).toString }
      .mkString("[", ", ", "]")
    s"""$logitCte,
       |binned AS (SELECT CAST($binCase AS INTEGER) AS bin,
       |             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |           FROM lg),
       |rel AS (SELECT bin,
       |          (CAST($lo AS DOUBLE[]))[bin + 1] AS bin_lo,
       |          (CAST($hi AS DOUBLE[]))[bin + 1] AS bin_hi,
       |          (CAST($conf AS DOUBLE[]))[bin + 1] AS conf,
       |          COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS positives
       |        FROM binned GROUP BY bin)""".stripMargin
  }

  /** Reliability table of the fixed quality classifier against the
    * lang='en' label (§2.10 corpus analytics): per logit bin, count,
    * positives, empirical positive rate vs the model's midpoint
    * confidence. Bin midpoint sigmoids are driver-computed literals —
    * no in-engine transcendental, so the table is oracle-exact.
    */
  private val calibration = QueryDef(
    (s, dir) =>
      graft.operators.Calibration.reliability(
          calScored(s, dir), "logit", col("lang") === "en", calEdges)
        .orderBy("bin"),
    s"""WITH $calRelCte
       |SELECT bin, bin_lo, bin_hi, conf, n, positives,
       |  CAST(positives AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate
       |FROM rel ORDER BY bin""".stripMargin)

  /** Tokenizer fertility audit (§2.10 tokenization): per (lang, source),
    * subwords-per-word and bytes-per-subword from exact integer sums —
    * the table read when validating a tokenizer against a multilingual
    * corpus mix. One scan, slice-cardinality output.
    */
  private val fertility = QueryDef(
    (s, dir) =>
      graft.operators.TokenizerAudit.fertility(
          Tables.documents(s, dir), Seq("lang", "source"), "text")
        .orderBy("lang", "source"),
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS words,
      |  CAST(SUM(s) AS BIGINT) AS subwords,
      |  CAST(SUM(b) AS BIGINT) AS bytes,
      |  CAST(SUM(s) AS DOUBLE) / CAST(NULLIF(SUM(w), 0) AS DOUBLE)
      |    AS fertility,
      |  CAST(SUM(b) AS DOUBLE) / CAST(NULLIF(SUM(s), 0) AS DOUBLE)
      |    AS bytes_per_subword
      |FROM (
      |  SELECT lang, source,
      |    len(list_filter(string_split_regex(text, '[ \t\n\r]+'),
      |      t -> t != '')) AS w,
      |    len(regexp_extract_all(text, '[A-Za-z0-9]+'))
      |      + len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\r]')) AS s,
      |    octet_length(encode(text)) AS b
      |  FROM documents)
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin)

  /** Expected calibration error condensed from the q198 table: one row
    * (n_total, ece), the number a pipeline gate thresholds before
    * trusting the classifier's probabilities as admission rates. The
    * weighted-gap sum folds bins IN BIN ORDER on both engines.
    */
  private val eceGate = QueryDef(
    (s, dir) =>
      graft.operators.Calibration.ece(
        graft.operators.Calibration.reliability(
          calScored(s, dir), "logit", col("lang") === "en", calEdges)),
    s"""WITH $calRelCte
       |SELECT CAST(SUM(n) AS BIGINT) AS n_total,
       |  list_sum(list(
       |      abs(CAST(positives AS DOUBLE) / CAST(n AS DOUBLE) - conf)
       |        * CAST(n AS DOUBLE) ORDER BY bin))
       |    / CAST(SUM(n) AS DOUBLE) AS ece
       |FROM rel""".stripMargin)

  /** Exact AUC of the fixed quality classifier against the lang='en'
    * label (§2.10 corpus analytics) — the threshold-free ranking-power
    * companion to q198/q199's calibration report. Mann-Whitney midrank
    * identity over distinct-score levels; the exclusive rank prefix is
    * the sharded two-phase scan (no single-task funnel), rank sums stay
    * integral (DECIMAL vs the oracle's HUGEINT) with one final double
    * division, so the statistic is oracle-exact.
    */
  private val aucGate = QueryDef(
    (s, dir) =>
      graft.operators.Roc.auc(calScored(s, dir), "logit", col("lang") === "en"),
    s"""WITH $logitCte,
       |lv AS (SELECT logit AS score, COUNT(*) AS cnt,
       |         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
       |       FROM lg GROUP BY logit),
       |o AS (SELECT score, cnt, pos,
       |        COALESCE(SUM(cnt) OVER (ORDER BY score
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS cum_before
       |      FROM lv)
       |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       |  CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
       |  CASE WHEN SUM(pos) > 0 AND SUM(cnt - pos) > 0 THEN
       |    CAST(SUM(pos * (2 * cum_before + cnt + 1))
       |        - SUM(pos) * (SUM(pos) + 1) AS DOUBLE)
       |      / (2.0 * CAST(SUM(pos) AS DOUBLE) * CAST(SUM(cnt - pos) AS DOUBLE))
       |  ELSE NULL END AS auc
       |FROM o""".stripMargin)

  /** ROC curve points at the q198 reliability-bin thresholds: per bin,
    * tp/fp and tpr/fpr under "keep when logit ≥ bin lower edge" — the
    * table read when picking the admission threshold a quality filter
    * will actually run with. Bins-cardinality ordered fold (same
    * discipline as ECE), integer counts, double ratios at the end.
    */
  private val rocGate = QueryDef(
    (s, dir) =>
      graft.operators.Roc.rocPoints(
          graft.operators.Calibration.reliability(
            calScored(s, dir), "logit", col("lang") === "en", calEdges))
        .orderBy("bin"),
    s"""WITH $calRelCte,
       |t AS (SELECT CAST(SUM(positives) AS BIGINT) AS p,
       |        CAST(SUM(n - positives) AS BIGINT) AS ng
       |      FROM rel),
       |c AS (SELECT bin,
       |        CASE WHEN bin = 0 THEN CAST('-inf' AS DOUBLE)
       |          ELSE bin_lo END AS threshold,
       |        t.p - COALESCE(SUM(positives) OVER (ORDER BY bin
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tp,
       |        t.ng - COALESCE(SUM(n - positives) OVER (ORDER BY bin
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fp,
       |        t.p AS p, t.ng AS ng
       |      FROM rel, t)
       |SELECT bin, threshold, CAST(tp AS BIGINT) AS tp,
       |  CAST(fp AS BIGINT) AS fp,
       |  CAST(tp AS DOUBLE) / CAST(NULLIF(p, 0) AS DOUBLE) AS tpr,
       |  CAST(fp AS DOUBLE) / CAST(NULLIF(ng, 0) AS DOUBLE) AS fpr
       |FROM c ORDER BY bin""".stripMargin)

  /** Agreement between the heuristic quality filter (q39's composite
    * score ≥ 2/3) and the learned classifier (fixed q158 model, logit >
    * bias) per language — confusion counts plus Cohen's kappa, the
    * chance-corrected number that says whether the learned filter knows
    * anything beyond the heuristic's base rate. Integer counts, fixed
    * double chain, oracle-exact.
    */
  /** Precision/recall/F1 at the q198 reliability-bin thresholds — the
    * operating-point table a filter rollout actually reads (q203's ROC
    * ranks the classifier; this one says what precision the corpus keeps
    * and what recall it pays at each candidate threshold). Same rule
    * ("keep when logit ≥ bin lower edge", bin 0 = −∞), same bins-sized
    * ordered fold, integer counts with one double division per ratio —
    * oracle-exact. F1 uses the division-free `2·tp / (pred_pos + P)`
    * identity on both engines.
    */
  private val prCurveGate = QueryDef(
    (s, dir) =>
      graft.operators.Roc.prPoints(
          graft.operators.Calibration.reliability(
            calScored(s, dir), "logit", col("lang") === "en", calEdges))
        .orderBy("bin"),
    s"""WITH $calRelCte,
       |t AS (SELECT CAST(SUM(positives) AS BIGINT) AS p FROM rel),
       |c AS (SELECT bin,
       |        CASE WHEN bin = 0 THEN CAST('-inf' AS DOUBLE)
       |          ELSE bin_lo END AS threshold,
       |        t.p - COALESCE(SUM(positives) OVER (ORDER BY bin
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tp,
       |        SUM(n) OVER () - COALESCE(SUM(n) OVER (ORDER BY bin
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS pred_pos,
       |        t.p AS p
       |      FROM rel, t)
       |SELECT bin, threshold, CAST(tp AS BIGINT) AS tp,
       |  CAST(pred_pos AS BIGINT) AS pred_pos,
       |  CAST(tp AS DOUBLE) / CAST(NULLIF(pred_pos, 0) AS DOUBLE)
       |    AS "precision",
       |  CAST(tp AS DOUBLE) / CAST(NULLIF(p, 0) AS DOUBLE) AS recall,
       |  2.0 * CAST(tp AS DOUBLE) / CAST(NULLIF(pred_pos + p, 0) AS DOUBLE)
       |    AS f1
       |FROM c ORDER BY bin""".stripMargin)

  private val filterAgreement = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.operators.LogisticQuality.logits(
          docs, "doc_id", "text",
          graft.operators.LogisticQuality.Model(1, logitW, logitBias))
        .join(docs.select("doc_id", "lang", "text"), Seq("doc_id"))
      graft.operators.FilterAgreement.kappa(
          scored,
          qualityScore(col("text"), stopwords) >= 2.0 / 3.0,
          col("logit") > logitBias,
          Seq("lang"))
        .orderBy("lang")
    },
    s"""WITH $logitCte,
       |j AS (SELECT d.lang, d.text, lg.logit
       |      FROM lg JOIN documents d ON lg.doc_id = d.doc_id),
       |dec AS (SELECT lang,
       |    ((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
       |     + (CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
       |             t -> t IN ('the','a','of','and','data'))) AS DOUBLE)
       |             / len(string_split(trim(text), ' ')) > 0.0 THEN 1.0 ELSE 0.0 END)
       |     + (CASE WHEN CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
       |             / len(string_split(trim(text), ' ')) BETWEEN 2.0 AND 12.0
       |        THEN 1.0 ELSE 0.0 END)) / 3.0 >= 2.0/3.0 AS a,
       |    logit > $logitBias AS b
       |  FROM j),
       |c AS (SELECT lang, COUNT(*) AS n,
       |        SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS both_keep,
       |        SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS only_a,
       |        SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS only_b,
       |        SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS neither
       |      FROM dec GROUP BY lang),
       |p AS (SELECT lang, n, both_keep, only_a, only_b, neither,
       |        CAST(both_keep + neither AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |        CAST(both_keep + only_a AS DOUBLE) / CAST(n AS DOUBLE) AS pa,
       |        CAST(both_keep + only_b AS DOUBLE) / CAST(n AS DOUBLE) AS pb
       |      FROM c),
       |e AS (SELECT lang, n, both_keep, only_a, only_b, neither, po,
       |        pa * pb + (CAST(1 AS DOUBLE) - pa) * (CAST(1 AS DOUBLE) - pb)
       |          AS pe
       |      FROM p)
       |SELECT lang, CAST(n AS BIGINT) AS n,
       |  CAST(both_keep AS BIGINT) AS both_keep,
       |  CAST(only_a AS BIGINT) AS only_a, CAST(only_b AS BIGINT) AS only_b,
       |  CAST(neither AS BIGINT) AS neither, po, pe,
       |  CASE WHEN CAST(1 AS DOUBLE) - pe <> 0
       |    THEN (po - pe) / (CAST(1 AS DOUBLE) - pe) ELSE NULL END AS kappa
       |FROM e ORDER BY lang""".stripMargin)

  /** Context-window truncation loss per source (§2.10 corpus analytics):
    * token mass past position 256 of each document — the table that says
    * which sources a fixed context length silently discards. Integral
    * sums, one ratio at the end, oracle-exact.
    */
  private val truncationAudit = QueryDef(
    (s, dir) =>
      graft.operators.CorpusAudit.truncationAudit(
          Tables.documents(s, dir), Seq("source"), "text", contextLen = 256)
        .orderBy("source"),
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n > 256 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_truncated,
      |  CAST(SUM(n) AS BIGINT) AS total_tokens,
      |  CAST(SUM(LEAST(n, 256)) AS BIGINT) AS kept_tokens,
      |  CAST(SUM(GREATEST(n - 256, 0)) AS BIGINT) AS lost_tokens,
      |  CAST(SUM(GREATEST(n - 256, 0)) AS DOUBLE)
      |    / CAST(NULLIF(SUM(n), 0) AS DOUBLE) AS lost_frac
      |FROM (SELECT source, CASE WHEN trim(text) = '' THEN 0
      |        ELSE len(string_split(trim(text), ' ')) END AS n
      |      FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin)

  /** Chi-square independence of the q62 hash split against source (§2.10
    * sampling QA): a split correlated with its slicing dimension makes
    * holdout loss unrepresentative; this is the one-number check. Cell
    * terms fold in (split, grp) order on both engines.
    */
  private val splitBalance = QueryDef(
    (s, dir) =>
      graft.operators.CorpusAudit.chiSquare(
        graft.operators.CorpusAudit.contingency(
          graft.operators.Sampling.split(
            Tables.documents(s, dir), "doc_id", trainPct = 90),
          "split", "source")),
    """WITH d AS (SELECT CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90
      |             THEN 'train' ELSE 'holdout' END AS split,
      |             source AS grp
      |           FROM documents),
      |cells AS (SELECT split, grp, COUNT(*) AS observed FROM d GROUP BY split, grp),
      |r AS (SELECT split, SUM(observed) AS rn FROM cells GROUP BY split),
      |c AS (SELECT grp, SUM(observed) AS cn FROM cells GROUP BY grp),
      |g AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells),
      |f AS (SELECT r.split, c.grp,
      |        COALESCE(cells.observed, 0) AS observed,
      |        CAST(r.rn AS DOUBLE) * CAST(c.cn AS DOUBLE)
      |          / CAST(g.n AS DOUBLE) AS expected
      |      FROM r CROSS JOIN c CROSS JOIN g
      |      LEFT JOIN cells ON cells.split = r.split AND cells.grp = c.grp)
      |SELECT CAST(SUM(observed) AS BIGINT) AS n,
      |  CAST((COUNT(DISTINCT split) - 1) * (COUNT(DISTINCT grp) - 1)
      |    AS BIGINT) AS dof,
      |  list_sum(list(
      |      (CAST(observed AS DOUBLE) - expected)
      |        * (CAST(observed AS DOUBLE) - expected) / expected
      |      ORDER BY split, grp)) AS chi2
      |FROM f""".stripMargin)

  /** Lexical diversity per source (§2.10 text quality): pooled type-token
    * ratio from exact integer sums plus the count of docs in the
    * repetitive band (per-doc TTR < 0.3) — the slice-level repetition
    * signal next to q70's per-doc one.
    */
  private val lexicalDiversity = QueryDef(
    (s, dir) =>
      graft.operators.CorpusAudit.lexicalDiversity(
          Tables.documents(s, dir), Seq("source"), "text")
        .orderBy("source"),
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(ty) AS BIGINT) AS types,
      |  CAST(SUM(n) AS BIGINT) AS tokens,
      |  CAST(SUM(CASE WHEN CAST(ty AS DOUBLE) / CAST(NULLIF(n, 0) AS DOUBLE)
      |      < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS low_ttr_docs,
      |  CAST(SUM(ty) AS DOUBLE) / CAST(NULLIF(SUM(n), 0) AS DOUBLE)
      |    AS pooled_ttr
      |FROM (SELECT source,
      |        CASE WHEN trim(text) = '' THEN 0
      |          ELSE len(string_split(trim(text), ' ')) END AS n,
      |        CASE WHEN trim(text) = '' THEN 0
      |          ELSE len(list_distinct(string_split(trim(text), ' '))) END AS ty
      |      FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin)

  /** Compression-ratio quality report per source (Gopher §A1.1): pooled
    * deflate/raw byte ratio plus the repetitive (<0.3) and high-entropy
    * (>0.8) band counts. Rows-only by design — no SQL engine exposes
    * DEFLATE — with DeflateSpec pinning the expression against
    * java.util.zip directly; sums are integral so the report is still
    * partition-order-free.
    */
  private val compressionReport = QueryDef(
    (s, dir) => {
      // No SQL zlib exists, so the per-doc DEFLATE lengths ride into the
      // oracle as literals (DynamicOracle, the q18/q237 discipline): the
      // kernel itself stays spec-pinned (DeflateLengthSpec known vectors),
      // while DuckDB independently recomputes every raw length, enforces
      // the zlib STORED-BLOCK upper bound (deflate output can never exceed
      // raw + 5 bytes per 65535-byte block + 11 bytes of zlib framing — a
      // violated bound drops the doc and fails the hash) and replays the
      // ratio bands, band counts, and pooled-ratio division exactly.
      val docs = Tables.documents(s, dir)
      val perDoc = docs.select(col("doc_id"),
          graft.functions.TextFunctions.deflateLen(col("text")).as("dl"))
        .collect()
      val values = perDoc.map(r => s"(${r.getLong(0)}, ${r.getLong(1)})")
        .mkString(", ")
      graft.core.DynamicOracle.put("q209_compression_report",
        s"""WITH dl(doc_id, deflate_len) AS (VALUES $values),
           |d AS (SELECT doc_id, source,
           |        CAST(strlen(text) AS BIGINT) AS raw
           |      FROM documents),
           |j AS (SELECT d.source, d.raw, l.deflate_len
           |      FROM d JOIN dl l USING (doc_id)
           |      WHERE l.deflate_len >= 1
           |        AND l.deflate_len <= d.raw + 11 + 5 * (1 + d.raw // 65535))
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(raw) AS BIGINT) AS raw_bytes,
           |  CAST(SUM(deflate_len) AS BIGINT) AS deflate_bytes,
           |  CAST(SUM(CASE WHEN CAST(deflate_len AS DOUBLE) /
           |      CAST(nullif(raw, 0) AS DOUBLE) < 0.3
           |    THEN 1 ELSE 0 END) AS BIGINT) AS repetitive_docs,
           |  CAST(SUM(CASE WHEN CAST(deflate_len AS DOUBLE) /
           |      CAST(nullif(raw, 0) AS DOUBLE) > 0.8
           |    THEN 1 ELSE 0 END) AS BIGINT) AS high_entropy_docs,
           |  CAST(SUM(deflate_len) AS DOUBLE) /
           |    CAST(nullif(SUM(raw), 0) AS DOUBLE) AS pooled_ratio
           |FROM j GROUP BY source ORDER BY source""".stripMargin)
      docs
        .select(col("source"),
          graft.functions.TextFunctions.deflateLen(col("text")).as("__c"),
          octet_length(col("text")).cast("long").as("__b"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__b")).as("raw_bytes"),
          sum(col("__c")).as("deflate_bytes"),
          sum(when(col("__c").cast("double") /
            nullif(col("__b"), lit(0L)).cast("double") < 0.3, 1L)
            .otherwise(0L)).as("repetitive_docs"),
          sum(when(col("__c").cast("double") /
            nullif(col("__b"), lit(0L)).cast("double") > 0.8, 1L)
            .otherwise(0L)).as("high_entropy_docs"))
        .withColumn("pooled_ratio",
          col("deflate_bytes").cast("double") /
            nullif(col("raw_bytes"), lit(0L)).cast("double"))
        .orderBy("source")
    },
    None)

  /** DSIR greedy selection (Dsir.selectTopK): the 50 highest importance
    * scores, ties to the smaller doc_id — TakeOrderedAndProject, no global
    * sort. Scores are bitwise reproducible (q124 pins them), so the
    * selected SET is oracle-exact; the faithful Gumbel-top-k resampler
    * (Dsir.resampleGumbel) is spec-tested instead — its per-row
    * -ln(-ln(u)) goes through Spark's StrictMath log, which is not
    * guaranteed bitwise-equal to DuckDB ln at selection boundaries.
    */
  private val dsirSelect = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = graft.operators.Dsir.trainWeightsSubset(
        docs, col("lang") === "en", "text", maxN = 2, numBuckets = 10000)
      val scored = graft.operators.Dsir.score(docs, "doc_id", "text", w, maxN = 2)
      graft.operators.Dsir.selectTopK(scored, "doc_id", k = 50)
        .select("doc_id", "dsir_logw")
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS t
      |              FROM documents WHERE trim(text) != ''),
      |fs AS (SELECT doc_id, lang,
      |         list_concat(t, [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS f
      |       FROM toks),
      |feat AS (SELECT doc_id, lang, u.pos AS pos,
      |           CAST('0x' || substring(md5(u.g), 1, 8) AS BIGINT) % 10000 AS b
      |         FROM (SELECT doc_id, lang,
      |                 unnest([struct_pack(pos := i, g := f[i]) for i in range(1, len(f) + 1)]) AS u
      |               FROM fs)),
      |tc AS (SELECT b, COUNT(*) AS c FROM feat WHERE lang = 'en' GROUP BY b),
      |rc AS (SELECT b, COUNT(*) AS c FROM feat GROUP BY b),
      |tt AS (SELECT COUNT(*) AS c FROM feat WHERE lang = 'en'),
      |rt AS (SELECT COUNT(*) AS c FROM feat),
      |w AS (SELECT r.b,
      |        ln((COALESCE(t.c, 0) + 0.5) / (tt.c + 0.5 * 10000)) -
      |        ln((r.c + 0.5) / (rt.c + 0.5 * 10000)) AS w
      |      FROM rc r LEFT JOIN tc t USING (b), tt, rt),
      |agg AS (SELECT doc_id, list_sum(list(w ORDER BY pos)) AS s
      |        FROM feat JOIN w USING (b) GROUP BY doc_id)
      |SELECT doc_id, dsir_logw FROM (
      |  SELECT doc_id, s AS dsir_logw FROM agg
      |  ORDER BY s DESC, doc_id LIMIT 50)
      |ORDER BY doc_id""".stripMargin)

  /** Incremental NEAR-dedup (DupGroups.dedupIncrementNear): the sketch
    * sibling of q123 — the same overlapping-dump shape (corpus = docs
    * 0-299, batch = docs 200+ re-keyed +10000), but batch documents drop
    * when their MinHash est-Jaccard vs ANY ingested document clears 0.5
    * (asymmetric band probe), and the survivors near-dedup among
    * themselves. Rows-only gate (sketch-dependent); SemDedupSpec pins the
    * cross-snapshot recall contract.
    */
  private val incrementalNearDedup = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") < 300)
      val batch = docs.filter(col("doc_id") >= 200)
        .withColumn("doc_id", col("doc_id") + 10000)
      graft.operators.DupGroups.dedupIncrementNear(
        batch, corpus, "doc_id", "text", n = 3, k = 128, bands = 32,
        minJaccard = 0.5, md5Parity = true)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_id"))
        .orderBy("lang")
    },
    // oracle-green via the md5-affine family: BOTH corpora's signatures,
    // the asymmetric batch-vs-ingested band probe, the in-batch survivor
    // closure, and the final keep-set all replay in SQL. Short batch docs
    // (< n tokens, no signature) always survive — they fall through both
    // NOT IN filters, the operator's documented contract.
    Some(s"""WITH RECURSIVE params AS (
       |  SELECT j,
       |    CAST('0x' || substring(md5('mh:a:' || j), 1, 15) AS BIGINT)
       |      % 2147483646 + 1 AS a,
       |    CAST('0x' || substring(md5('mh:b:' || j), 1, 15) AS BIGINT)
       |      % 2147483647 AS b
       |  FROM (SELECT unnest(range(0, 128)) AS j)),
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
       |batch AS (SELECT doc_id + 10000 AS doc_id, lang, text
       |          FROM documents WHERE doc_id >= 200),
       |${md5SigSideCtes("corpus", "c")},
       |${md5SigSideCtes("batch", "b")},
       |flagged AS (SELECT DISTINCT a.doc_id AS doc_id
       |  FROM bbb a JOIN cbb b ON a.band = b.band AND a.bucket = b.bucket
       |  JOIN bsig sa ON a.doc_id = sa.doc_id
       |  JOIN csig sb ON b.doc_id = sb.doc_id
       |  WHERE ${sqlEstJaccard("sa.sg", "sb.sg")} >= 0.5),
       |fsig AS (SELECT doc_id, sg FROM bsig
       |         WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
       |fbb AS (SELECT doc_id, band,
       |    array_to_string(sg[(band * 4 + 1):(band * 4 + 4)], ',') AS bucket
       |  FROM fsig CROSS JOIN (SELECT unnest(range(0, 32)) AS band)),
       |prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fbb a JOIN fbb b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id
       |  JOIN fsig sa ON a.doc_id = sa.doc_id
       |  JOIN fsig sb ON b.doc_id = sb.doc_id
       |  WHERE ${sqlEstJaccard("sa.sg", "sb.sg")} >= 0.5),
       |edges AS (SELECT doc_a AS eu, doc_b AS ev FROM prs
       |          UNION ALL SELECT doc_b, doc_a FROM prs),
       |reach(src, dst) AS (
       |  SELECT eu, eu FROM edges
       |  UNION
       |  SELECT r.src, e.ev FROM reach r JOIN edges e ON r.dst = e.eu),
       |losers AS (SELECT src AS doc_id FROM reach GROUP BY src HAVING MIN(dst) <> src),
       |kept AS (SELECT b.doc_id, b.lang FROM batch b
       |  WHERE b.doc_id NOT IN (SELECT doc_id FROM flagged)
       |    AND b.doc_id NOT IN (SELECT doc_id FROM losers))
       |SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_id
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin))

  /** Term-frequency drift between corpus snapshots (Drift.termDrift):
    * docs 0-249 vs 250+ as old/new, top-100 terms by the smoothed
    * relative-rate ratio (or its reciprocal — whichever exceeds 1). The
    * metric is transcendental-free (integer counts + IEEE divide), so the
    * oracle replays it bitwise; final presentation order is by term.
    */
  private val termDrift = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Drift.termDrift(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "text", alpha = 0.5, topK = 100)
        .orderBy("term")
    },
    """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
      |             FROM documents WHERE trim(text) != ''),
      |co AS (SELECT term, COUNT(*) AS c FROM tok WHERE doc_id < 250 GROUP BY term),
      |cn AS (SELECT term, COUNT(*) AS c FROM tok WHERE doc_id >= 250 GROUP BY term),
      |j AS (SELECT COALESCE(co.term, cn.term) AS term,
      |        COALESCE(co.c, 0) AS cnt_old, COALESCE(cn.c, 0) AS cnt_new
      |      FROM co FULL OUTER JOIN cn ON co.term = cn.term),
      |s AS (SELECT SUM(cnt_old) AS t_old, SUM(cnt_new) AS t_new, COUNT(*) AS v FROM j),
      |r AS (SELECT term, cnt_old, cnt_new,
      |        ((cnt_new + 0.5) / (t_new + 0.5 * v)) /
      |        ((cnt_old + 0.5) / (t_old + 0.5 * v)) AS ratio
      |      FROM j, s)
      |SELECT term, cnt_old, cnt_new, ratio, drift FROM (
      |  SELECT term, cnt_old, cnt_new, ratio,
      |    greatest(ratio, 1.0 / ratio) AS drift
      |  FROM r ORDER BY drift DESC, term LIMIT 100)
      |ORDER BY term""".stripMargin)

  /** One-row Hellinger distance between the unigram distributions of the
    * q128 snapshot halves (docs 0-249 vs 250+) — the single bounded
    * "how different is this dump" number next to termDrift's ranked
    * table. Transcendental-free BY CONSTRUCTION: sqrt is IEEE-correctly-
    * rounded (bitwise equal across engines) where a KL's ln is not, so
    * the audit fold (term-ordered Σ(√p−√q)², one final sqrt) replays
    * digit for digit.
    */
  private val hellingerDrift = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Drift.hellinger(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "text", ordered = true)
    },
    """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
      |             FROM documents WHERE trim(text) != ''),
      |co AS (SELECT term, COUNT(*) AS c FROM tok WHERE doc_id < 250 GROUP BY term),
      |cn AS (SELECT term, COUNT(*) AS c FROM tok WHERE doc_id >= 250 GROUP BY term),
      |j AS (SELECT COALESCE(co.term, cn.term) AS term,
      |        COALESCE(co.c, 0) AS cnt_old, COALESCE(cn.c, 0) AS cnt_new
      |      FROM co FULL OUTER JOIN cn ON co.term = cn.term),
      |s AS (SELECT COUNT(*) AS v, SUM(cnt_old) AS t_old, SUM(cnt_new) AS t_new FROM j),
      |d AS (SELECT term,
      |        sqrt(CAST(cnt_old AS DOUBLE) / CAST(t_old AS DOUBLE))
      |          - sqrt(CAST(cnt_new AS DOUBLE) / CAST(t_new AS DOUBLE)) AS dd
      |      FROM j, s)
      |SELECT CAST(s.v AS BIGINT) AS n_terms,
      |  CAST(s.t_old AS BIGINT) AS t_old, CAST(s.t_new AS BIGINT) AS t_new,
      |  CASE WHEN s.t_old > 0 AND s.t_new > 0 THEN
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      (SELECT list(dd * dd ORDER BY term) FROM d)), (x, y) -> x + y)
      |      / 2.0)
      |  ELSE NULL END AS hellinger
      |FROM s""".stripMargin)

  /** Per-source distinct-n diversity for n = 1..3 (Li et al., NAACL'16)
    * — the synthetic-data mode-collapse audit: generations can be
    * pairwise-unique while their phrases repeat, which craters
    * distinct-2/3 long before any dedup fires. One corpus scan builds
    * all three shingle sets inside a single projection (one explode);
    * counts are exact integers, the ratio one double division.
    */
  private val ngramDiversity = QueryDef(
    (s, dir) =>
      graft.operators.CorpusAudit.ngramDiversity(
          Tables.documents(s, dir), Seq("source"), "text", maxN = 3)
        .orderBy("source", "n"),
    """WITH toks AS (SELECT source, string_split(trim(text), ' ') AS t
      |              FROM documents WHERE trim(text) != ''),
      |g AS (SELECT source, n,
      |        unnest([array_to_string(t[i:i + n - 1], ' ')
      |                for i in range(1, len(t) - n + 2)]) AS gram
      |      FROM (SELECT source, t, unnest([1, 2, 3]) AS n FROM toks))
      |SELECT source, CAST(n AS INT) AS n, COUNT(*) AS n_grams,
      |  COUNT(DISTINCT gram) AS n_distinct,
      |  CAST(COUNT(DISTINCT gram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS diversity
      |FROM g GROUP BY source, n ORDER BY source, n""".stripMargin)

  /** Deterministic epoch upsampling (Sampling.upsampleEpochs): materialize
    * a repeat recipe — 2.5 epochs of src0, 0.3 of src1, 1 of everything
    * else — with the fractional copy on the md5 bucket draw. Output:
    * per-source row/doc tallies and the highest epoch index. The oracle
    * replays the bucket and the floor/fraction copy arithmetic and expands
    * copies with unnest(range(...)).
    */
  private val epochUpsample = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.upsampleEpochs(
        Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 250, "src1" -> 30), defaultPct = 100)
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("epoch")).cast("long").as("max_epoch"))
        .orderBy("source"),
    """WITH c AS (SELECT doc_id, source,
      |    (CASE WHEN source = 'src0' THEN 250
      |          WHEN source = 'src1' THEN 30 ELSE 100 END) AS pct,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |e AS (SELECT doc_id, source,
      |    unnest(range(pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END)) AS epoch
      |  FROM c)
      |SELECT source, COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_docs,
      |  MAX(epoch) AS max_epoch
      |FROM e GROUP BY source ORDER BY source""".stripMargin)

  /** CCNet head/middle/tail: cut the corpus into perplexity terciles with
    * the distributed-rank bucketer over the LM score — the data-selection
    * move of Wenzek et al. (keep the head, sample the middle, drop the
    * tail). Per-bucket counts and nll ranges only: order statistics of
    * bitwise-reproducible scores, no float summation.
    */
  private val pplBuckets = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val (terms, logps, oov) =
        graft.operators.UnigramLm.collectLm(
          graft.operators.UnigramLm.termCounts(docs, "text"))
      val scored = graft.operators.UnigramLm
        .scoreBroadcast(docs, "doc_id", "text", terms, logps, oov)
      graft.operators.Curriculum.buckets(scored, Seq("nll", "doc_id"), n = 3)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("nll")).as("min_nll"), max(col("nll")).as("max_nll"))
        .orderBy("bucket")
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
      |        FROM (SELECT doc_id, unnest([struct_pack(pos := i, tok := t[i])
      |                                     for i in range(1, len(t) + 1)]) u
      |              FROM toks)),
      |unig AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) cnt FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM unig),
      |lp AS (SELECT tok, ln(cnt / total) lp FROM unig, tot),
      |agg AS (SELECT doc_id, list_sum(list(lp ORDER BY pos)) s, COUNT(*) n
      |        FROM tok JOIN lp USING (tok) GROUP BY doc_id),
      |scored AS (SELECT doc_id, -s / n AS nll FROM agg),
      |r AS (SELECT nll, ROW_NUMBER() OVER (ORDER BY nll, doc_id) AS rank,
      |             COUNT(*) OVER () AS total FROM scored)
      |SELECT ((rank - 1) * 3) // total + 1 AS bucket,
      |  COUNT(*) AS n_docs, MIN(nll) AS min_nll, MAX(nll) AS max_nll
      |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)

  /** Token-budget data recipe: rank by word familiarity (descending, exact
    * rational score), charge token counts in rank order, keep what fits a
    * 12k-token budget. The oracle replays the rank-ordered cumulative sum
    * with a window; the Spark path is the sharded two-phase prefix sum —
    * same deterministic cut.
    */
  private val tokenBudget = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.TfIdf.vocabulary(docs, "text", topN = 10)
      val scored = graft.operators.TfIdf.familiarity(docs, "doc_id", "text", vocab)
        .withColumn("neg_fam", -col("familiarity"))
      graft.operators.Sampling
        .tokenBudgetFill(scored, Seq("neg_fam", "doc_id"), "tok_cnt", budget = 12000L)
        .select(col("doc_id"), col("tok_cnt"), col("familiarity"),
          col("offset").as("cum_before"))
        .orderBy("doc_id")
    },
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
      |vocab AS (
      |  SELECT term FROM (
      |    SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
      |    ORDER BY cnt DESC, term LIMIT 10)),
      |hits AS (
      |  SELECT t.doc_id, COUNT(*) AS vocab_hits
      |  FROM toks t JOIN vocab v USING (term) GROUP BY 1),
      |tc AS (
      |  SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tok_cnt
      |  FROM documents),
      |scored AS (
      |  SELECT tc.doc_id, tc.tok_cnt,
      |    CAST(COALESCE(hits.vocab_hits, 0) AS DOUBLE) / tc.tok_cnt AS familiarity
      |  FROM tc LEFT JOIN hits USING (doc_id)),
      |cum AS (
      |  SELECT doc_id, tok_cnt, familiarity,
      |    COALESCE(SUM(tok_cnt) OVER (ORDER BY -familiarity, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM scored)
      |SELECT doc_id, tok_cnt, familiarity, CAST(cum_before AS BIGINT) AS cum_before
      |FROM cum WHERE cum_before + tok_cnt <= 12000 ORDER BY doc_id""".stripMargin)

  /** Composed pipeline v3 — the round's new operators chained end-to-end,
    * every stage oracle-exact: strip cross-document duplicated spans
    * (keep-first-doc), train the unigram LM on the STRIPPED corpus, score
    * each surviving document, then cut a 10k-token budget walking best
    * (lowest) nll first. Exactly the shape of a pretraining data refresh:
    * dedup before scoring so boilerplate can't teach the LM, score before
    * selection so the budget buys quality.
    */
  private val corpusPipeline3 = QueryDef(
    (s, dir) => {
      // pinned: the strip pipeline feeds three driver actions (LM
      // collect, range-boundary sampling, shard sums) — without the pin its
      // dominant shuffles re-execute per action
      val stripped = graft.core.Materialize.pin(graft.operators.SpanDedup
        .stripSpans(Tables.documents(s, dir), "doc_id", "text", k = 8))
      val (terms, logps, oov) = graft.operators.UnigramLm.collectLm(
        graft.operators.UnigramLm.termCounts(stripped, "text"))
      val scored = graft.operators.UnigramLm
        .scoreBroadcast(stripped, "doc_id", "text", terms, logps, oov)
      graft.operators.Sampling
        .tokenBudgetFill(scored, Seq("nll", "doc_id"), "n_tokens", budget = 10000L)
        .select(col("doc_id"), col("n_tokens"), col("nll"),
          col("offset").as("cum_before"))
        // plain sort: the fill's input is already pinned (ShardedScan and
        // `stripped`), so an orderedOut pin would only add a cache write
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, w := array_to_string(t[i:i+7], ' '))
      |                              for i in range(1, len(t) - 6)]) AS u
      |       FROM toks WHERE len(t) >= 8),
      |win AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM sh),
      |dupw AS (SELECT w, MIN(doc_id) AS min_doc FROM win GROUP BY w
      |         HAVING COUNT(DISTINCT doc_id) >= 2),
      |hits AS (SELECT win.doc_id, pos FROM win JOIN dupw USING (w)
      |         WHERE win.doc_id > dupw.min_doc),
      |m AS (SELECT doc_id, pos,
      |        MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM hits),
      |sp AS (SELECT doc_id, pos,
      |        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM m),
      |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 8 AS e FROM sp GROUP BY 1, 2),
      |tokpos AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, tok := t[i])
      |                                  for i in range(1, len(t) + 1)]) AS u FROM toks),
      |toku AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tokpos),
      |kept AS (SELECT k.doc_id, k.pos, k.tok FROM toku k
      |         WHERE NOT EXISTS (SELECT 1 FROM spans s
      |                           WHERE s.doc_id = k.doc_id AND k.pos >= s.s AND k.pos < s.e)),
      |ktok AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
      |                tok FROM kept WHERE tok <> ''),
      |unig AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) cnt FROM ktok GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM unig),
      |lp AS (SELECT tok, ln(cnt / total) lp FROM unig, tot),
      |agg AS (SELECT doc_id, list_sum(list(lp ORDER BY pos)) lpsum, COUNT(*) n
      |        FROM ktok JOIN lp USING (tok) GROUP BY doc_id),
      |scored AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, -lpsum / n AS nll FROM agg),
      |cum AS (SELECT doc_id, n_tokens, nll,
      |          COALESCE(SUM(n_tokens) OVER (ORDER BY nll, doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |        FROM scored)
      |SELECT doc_id, n_tokens, nll, CAST(cum_before AS BIGINT) AS cum_before
      |FROM cum WHERE cum_before + n_tokens <= 10000 ORDER BY doc_id""".stripMargin)

  /** Surgical span decontamination: remove only the 8-token windows shared
    * with the benchmark set (docs 0-2), keep the rest of each document —
    * the span-granular counterpart of q63's whole-document drop. Output is
    * the affected documents with their rebuilt text, byte-checked.
    */
  private val stripContamination = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") < 3)
      // zero-handled like rebuildWithoutSpans' kept_tokens: an empty/
      // whitespace-only document counts 0 tokens on BOTH sides, so it can
      // never read as "contaminated" (tokenCount alone counts the split
      // artifact as 1 and would diverge from the oracle)
      val withN = docs.withColumn("__orig_tokens",
        when(length(trim(col("text"))) === 0, lit(0))
          .otherwise(tokenCount(col("text"))).cast("long"))
      graft.operators.SpanDedup
        .stripContaminatedSpans(withN, "doc_id", "text", bench, "text", k = 8)
        .filter(col("kept_tokens") < col("__orig_tokens"))
        .select(col("doc_id"), col("text").as("clean_text"), col("kept_tokens"))
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, w := array_to_string(t[i:i+7], ' '))
      |                              for i in range(1, len(t) - 6)]) AS u
      |       FROM toks WHERE len(t) >= 8),
      |win AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM sh),
      |bench AS (SELECT DISTINCT w FROM win WHERE doc_id < 3),
      |hits AS (SELECT doc_id, pos FROM win WHERE w IN (SELECT w FROM bench)),
      |m AS (SELECT doc_id, pos,
      |        MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM hits),
      |sp AS (SELECT doc_id, pos,
      |        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM m),
      |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 8 AS e FROM sp GROUP BY 1, 2),
      |tokpos AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, tok := t[i])
      |                                  for i in range(1, len(t) + 1)]) AS u FROM toks),
      |toku AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tokpos),
      |kept AS (SELECT k.doc_id, k.pos, k.tok FROM toku k
      |         WHERE NOT EXISTS (SELECT 1 FROM spans s
      |                           WHERE s.doc_id = k.doc_id AND k.pos >= s.s AND k.pos < s.e)),
      |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
      |               COUNT(*) AS kept_tokens FROM kept GROUP BY doc_id),
      |base AS (SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
      |                CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
      |                CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS n_tokens
      |         FROM documents d LEFT JOIN reb r USING (doc_id))
      |SELECT doc_id, clean_text, kept_tokens FROM base
      |WHERE kept_tokens < n_tokens ORDER BY doc_id""".stripMargin)

  /** Within-document repetition stripping: a 3-token window repeated inside
    * the SAME document keeps its first occurrence (protected) and loses the
    * rest — the in-document boilerplate / generator-loop removal pass,
    * orthogonal to q111's cross-document strip. Output is every document
    * (most unchanged), byte-checked.
    */
  private val selfRepeatStrip = QueryDef(
    (s, dir) =>
      graft.operators.SpanDedup
        .stripSelfRepeats(Tables.documents(s, dir), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("text").as("clean_text"), col("kept_tokens"))
        .transform(d => graft.core.QueryDef.orderedOut(d, "doc_id")),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, w := array_to_string(t[i:i+2], ' '))
      |                              for i in range(1, len(t) - 1)]) AS u
      |       FROM toks WHERE len(t) >= 3),
      |win AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM sh),
      |rep AS (SELECT doc_id, w, MIN(pos) AS first_pos FROM win GROUP BY 1, 2
      |        HAVING COUNT(*) >= 2),
      |hits AS (SELECT win.doc_id, pos FROM win JOIN rep USING (doc_id, w)
      |         WHERE pos > first_pos),
      |m AS (SELECT doc_id, pos,
      |        MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM hits),
      |sp AS (SELECT doc_id, pos,
      |        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM m),
      |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 3 AS e FROM sp GROUP BY 1, 2),
      |keepw AS (SELECT doc_id, first_pos AS pos FROM rep),
      |km AS (SELECT doc_id, pos,
      |        MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |       FROM keepw),
      |ksp AS (SELECT doc_id, pos,
      |        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM km),
      |kspans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 3 AS e FROM ksp GROUP BY 1, 2),
      |tokpos AS (SELECT doc_id, unnest([struct_pack(pos := i - 1, tok := t[i])
      |                                  for i in range(1, len(t) + 1)]) AS u FROM toks),
      |toku AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tokpos),
      |kept AS (SELECT k.doc_id, k.pos, k.tok FROM toku k
      |         WHERE NOT EXISTS (SELECT 1 FROM spans s
      |                           WHERE s.doc_id = k.doc_id AND k.pos >= s.s AND k.pos < s.e)
      |            OR EXISTS (SELECT 1 FROM kspans ks
      |                       WHERE ks.doc_id = k.doc_id AND k.pos >= ks.s AND k.pos < ks.e)),
      |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
      |               COUNT(*) AS kept_tokens FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
      |       CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens
      |FROM documents d LEFT JOIN reb r USING (doc_id) ORDER BY d.doc_id""".stripMargin)

  /** Per-source corpus datasheet (CorpusCard.report): volume, token mass,
    * language mix, corpus-wide exact-dup exposure, length-band conformance —
    * every column exact, so the whole data card is oracle-checked.
    */
  private val corpusCard = QueryDef(
    (s, dir) =>
      graft.operators.CorpusCard
        .report(Tables.documents(s, dir), "doc_id", "text", "lang", "source")
        .orderBy("source"),
    """WITH base AS (
      |  SELECT source, lang,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split(trim(text), ' ')) END AS toks,
      |    length(text) BETWEEN 50 AND 5000 AS len_ok,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |fpc AS (SELECT fp, COUNT(*) AS fpn FROM base GROUP BY 1),
      |f AS (SELECT b.*, fpc.fpn FROM base b JOIN fpc USING (fp)),
      |agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
      |    CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS avg_tokens,
      |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_doc_rate,
      |    CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS len_ok_rate
      |  FROM f GROUP BY 1),
      |lc AS (SELECT source, lang, COUNT(*) AS c FROM base GROUP BY 1, 2),
      |tl AS (SELECT source, lang AS top_lang FROM (
      |         SELECT source, lang,
      |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
      |         FROM lc) WHERE rn = 1)
      |SELECT a.source, n_docs, total_tokens, avg_tokens, n_langs, top_lang,
      |       dup_doc_rate, len_ok_rate
      |FROM agg a JOIN tl USING (source) ORDER BY source""".stripMargin)

  /** Sliding-window chunking (window 32, stride 24 → 8-token overlap): the
    * RAG-ingestion cut, byte-checked chunk text included. One generator
    * over one scan; map-only at any scale.
    */
  private val slidingChunks = QueryDef(
    (s, dir) =>
      graft.operators.Chunking
        .slidingWindows(Tables.documents(s, dir), "doc_id", "text",
          window = 32, stride = 24)
        .orderBy("doc_id", "chunk_id"),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t,
      |        len(string_split(trim(text), ' ')) n FROM documents),
      |c AS (SELECT doc_id, t, n,
      |        unnest(range(0, (CASE WHEN n > 32 THEN n - 32 ELSE 0 END + 23) // 24 + 1)) AS i
      |      FROM toks)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      |  CAST(i * 24 AS BIGINT) AS chunk_start,
      |  CAST(least(32, n - i * 24) AS BIGINT) AS n_tokens,
      |  array_to_string(t[CAST(i * 24 + 1 AS INT):CAST(least(n, i * 24 + 32) AS INT)], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin)

  /** Group-isolated sequence packing (per-source streams, capacity 256): no
    * training sequence ever spans two sources. Offsets via the global
    * two-phase prefix sum in (source, doc_id) order minus each source's
    * base — the oracle's per-source window cumsum is exactly what that must
    * reproduce. (`offset` is DuckDB-reserved → aliased cum_before.)
    */
  private val groupedPacking = QueryDef(
    (s, dir) =>
      graft.operators.Packing.groupedSequencePacking(
        Tables.documents(s, dir)
          .select(col("source"), col("doc_id"),
            tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", "doc_id", "n_tokens", capacity = 256)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("offset").as("cum_before"), col("bin_first"), col("bin_last"),
          col("spans_boundary"))
        .orderBy("source", "doc_id"),
    """WITH d AS (SELECT source, doc_id,
      |        CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |o AS (SELECT source, doc_id, n_tokens,
      |        COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |      FROM d)
      |SELECT source, doc_id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
      |  CAST(cum_before // 256 AS BIGINT) AS bin_first,
      |  CAST(greatest(cum_before // 256, (cum_before + n_tokens - 1) // 256) AS BIGINT) AS bin_last,
      |  cum_before // 256 <> greatest(cum_before // 256, (cum_before + n_tokens - 1) // 256)
      |    AS spans_boundary
      |FROM o ORDER BY source, doc_id""".stripMargin)

  /** q164: n-gram novelty of a crawl increment against the ingested
    * reference corpus (TextDedup.ngramNovelty): reference = doc_id % 5 < 2,
    * scored = the rest — a partition that scales with sf. Per scored doc,
    * its distinct trigrams, how many the reference already contains, and
    * the novelty fraction. Grams join on 64-bit shingle hashes Spark-side
    * vs strings in the oracle — identical classification absent a 2^-64
    * collision, the q41-pinned argument.
    */
  private val ngramNovelty = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextDedup.ngramNovelty(
        docs.filter(col("doc_id") % 5 >= 2),
        docs.filter(col("doc_id") % 5 < 2), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |ref AS (SELECT DISTINCT s FROM sh WHERE doc_id % 5 < 2),
      |scored AS (SELECT doc_id, s FROM sh WHERE doc_id % 5 >= 2),
      |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM scored GROUP BY 1),
      |seen AS (SELECT doc_id, COUNT(*) AS seen_grams
      |         FROM scored JOIN ref USING (s) GROUP BY 1)
      |SELECT t.doc_id, t.n_grams,
      |  COALESCE(seen_grams, 0) AS seen_grams,
      |  CAST(t.n_grams - COALESCE(seen_grams, 0) AS DOUBLE) / t.n_grams AS novelty
      |FROM tot t LEFT JOIN seen USING (doc_id) ORDER BY doc_id""".stripMargin)

  /** q165: quality-aware canonical election over the q68 near-dup clusters
    * (DupGroups.canonicalPerGroup): each cluster keeps its longest member
    * (n_chars, ties to the smallest doc_id) — the keep-the-BEST-copy dedup
    * policy. Oracle = q68's recursive-closure SQL plus the same
    * deterministic per-group window.
    */
  private val canonicalPick = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.DupGroups.canonicalPerGroup(
        graft.operators.DupGroups.nearDupGroups(
          docs, "doc_id", "text", n = 3, minJaccard = 0.5),
        docs, "doc_id", "n_chars")
        .orderBy("doc_id")
    },
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      |fsh AS (SELECT doc_id, s FROM sh JOIN kept USING (s)),
      |sz AS (SELECT doc_id, COUNT(*) sz FROM fsh GROUP BY 1),
      |cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) inter
      |         FROM fsh a JOIN fsh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b FROM cand
      |          JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      |          WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5),
      |edges AS (SELECT doc_a u, doc_b v FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
      |grp AS (SELECT CAST(src AS BIGINT) AS doc_id, CAST(MIN(dst) AS BIGINT) AS group_id
      |        FROM reach GROUP BY src),
      |j AS (SELECT g.doc_id, g.group_id, d.n_chars
      |      FROM grp g JOIN documents d USING (doc_id)),
      |c AS (SELECT group_id, doc_id AS canonical_id FROM (
      |        SELECT group_id, doc_id,
      |          ROW_NUMBER() OVER (PARTITION BY group_id
      |            ORDER BY n_chars DESC, doc_id ASC) AS rn
      |        FROM j) WHERE rn = 1)
      |SELECT j.doc_id, j.group_id, c.canonical_id,
      |  j.doc_id = c.canonical_id AS is_canonical
      |FROM j JOIN c USING (group_id) ORDER BY doc_id""".stripMargin)

  /** q166: tokenizer-coverage audit — train a 500-term vocabulary on the
    * reference partition (doc_id % 5 < 2), encode the remainder with the
    * FROZEN vocab, and report per-source OOV rate. This is the
    * "will the tokenizer cope with this new source" pre-admission check; a
    * source with an outlier OOV rate needs vocab retraining or exclusion.
    * Oracle replays the frequency ranking (freq DESC, term), the 500 cap,
    * and the left-join encode exactly.
    */
  private val oovRate = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val dict = graft.operators.Vocabulary.dictionary(
        docs.filter(col("doc_id") % 5 < 2), "text")
        .filter(col("vid") <= 500)
      graft.operators.Vocabulary.encode(
        docs.filter(col("doc_id") % 5 >= 2), "doc_id", "text", dict)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("vid") === 0, 1L).otherwise(0L)).as("oov_tokens"))
        .withColumn("oov_rate",
          col("oov_tokens").cast("double") / col("n_tokens"))
        .orderBy("source")
    },
    """WITH toks AS (SELECT doc_id, source, string_split(trim(text), ' ') AS t
      |              FROM documents),
      |pos AS (SELECT doc_id, source, t[i] AS term
      |        FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
      |tf AS (SELECT term, COUNT(*) AS freq FROM pos
      |       WHERE doc_id % 5 < 2 GROUP BY 1),
      |vocab AS (SELECT term FROM (
      |    SELECT term, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS vid
      |    FROM tf) WHERE vid <= 500),
      |enc AS (SELECT p.source, v.term IS NOT NULL AS in_vocab
      |        FROM pos p LEFT JOIN vocab v USING (term)
      |        WHERE p.doc_id % 5 >= 2)
      |SELECT source, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS oov_tokens,
      |  CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*)
      |    AS oov_rate
      |FROM enc GROUP BY source ORDER BY source""".stripMargin)

  /** q167: content-defined chunking (k=4, divisor=8 → ~8-token expected
    * chunks), oracle-green via the md5 hash family
    * (Chunking.contentDefinedChunksMd5 — the q66 winnow trick): the cut
    * rule, the chunk layout, AND the chunk fingerprints all replay in
    * DuckDB, so boundary placement itself is hash-verified end to end.
    * The engine-fast xxhash kernel path keeps ChunkingSpec's coverage /
    * reconstruction / determinism / edit-locality invariants (prefix
    * insertion leaves tail chunk hashes identical — the reason CDC
    * exists), which are hash-family-independent.
    */
  private val cdcChunks = QueryDef(
    (s, dir) =>
      graft.operators.Chunking.contentDefinedChunksMd5(
        Tables.documents(s, dir), "doc_id", "text", k = 4, divisor = 8)
        .select("doc_id", "chunk_id", "tok_start", "tok_end", "n_tokens",
          "chunk_hash")
        .orderBy("doc_id", "chunk_id"),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
      |ends AS (SELECT doc_id, t,
      |    list_sort(list_distinct(
      |      [i + 3 for i in range(0, greatest(n - 3, 0))
      |       if (CAST('0x' || substring(md5(array_to_string(t[(i+1):(i+4)], ' ')), 1, 15) AS BIGINT) % 8) = 0]
      |      || [n - 1])) AS e
      |  FROM base),
      |c AS (SELECT doc_id, t, e, unnest(range(0, len(e))) AS ci FROM ends),
      |b2 AS (SELECT doc_id, t, CAST(ci AS BIGINT) AS chunk_id,
      |         CASE WHEN ci = 0 THEN 0 ELSE e[CAST(ci AS INT)] + 1 END AS s,
      |         e[CAST(ci + 1 AS INT)] AS en
      |       FROM c)
      |SELECT doc_id, chunk_id, CAST(s AS BIGINT) AS tok_start,
      |  CAST(en AS BIGINT) AS tok_end, CAST(en - s + 1 AS BIGINT) AS n_tokens,
      |  CAST('0x' || substring(md5(array_to_string(t[CAST(s + 1 AS INT):CAST(en + 1 AS INT)], ' ')), 1, 15) AS BIGINT) AS chunk_hash
      |FROM b2 ORDER BY doc_id, chunk_id""".stripMargin)

  /** q170: exact proportional budget allocation (Sampling.allocateBudget,
    * Hamilton largest-remainder) — 100k tokens across sources by summed
    * document length; Σ alloc = budget exactly. The double dag (multiply,
    * divide, floor — all correctly rounded) and the remainder ranking
    * replay bitwise in the oracle; SamplingSpec pins the exact-sum and
    * proportionality invariants.
    */
  /** DuckDB replay of `Sampling.allocateBudget(documents, source,
    * n_chars, 100000)` — CTE chain ending in
    * `a(source, w, share, base_alloc, alloc)`; shared by q170/q201.
    */
  private val allocCte: String =
    """totals AS (
      |  SELECT source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS w
      |  FROM documents GROUP BY source),
      |g AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, COUNT(*) AS n FROM totals),
      |sh AS (SELECT source, w,
      |         CASE WHEN g.tw > 0
      |           THEN CAST(100000 AS DOUBLE) * CAST(w AS DOUBLE)
      |                / CAST(g.tw AS DOUBLE)
      |           ELSE CAST(100000 AS DOUBLE) / g.n END AS share
      |       FROM totals, g),
      |b AS (SELECT source, w, share,
      |        CAST(FLOOR(share) AS BIGINT) AS base_alloc,
      |        share - FLOOR(share) AS frac
      |      FROM sh),
      |l AS (SELECT 100000 - SUM(base_alloc) AS leftover FROM b),
      |r AS (SELECT source, w, share, base_alloc,
      |        ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS rk FROM b),
      |a AS (SELECT source, w, share, base_alloc,
      |        CAST(base_alloc + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END
      |          AS BIGINT) AS alloc
      |      FROM r, l)""".stripMargin

  private val budgetAllocation = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.allocateBudget(
        Tables.documents(s, dir), "source", col("n_chars").cast("long"), 100000L)
        .orderBy("source"),
    s"""WITH $allocCte
       |SELECT source, w, share, base_alloc, alloc FROM a
       |ORDER BY source""".stripMargin)

  /** Effective-epoch / over-repetition audit of the q170 recipe (§2.10
    * sampling): epochs = alloc/w per source, the >4-epoch flag, and the
    * capped allocation + surrendered budget mass. Pure projection over
    * the allocation frame; every op correctly rounded, so oracle-exact.
    */
  private val epochAudit = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.epochAudit(
          graft.operators.Sampling.allocateBudget(
            Tables.documents(s, dir), "source",
            col("n_chars").cast("long"), 100000L),
          "source", maxEpochs = 4.0)
        .orderBy("source"),
    s"""WITH $allocCte
       |SELECT source, w, alloc,
       |  CAST(alloc AS DOUBLE) / CAST(NULLIF(w, 0) AS DOUBLE) AS epochs,
       |  COALESCE(CAST(alloc AS DOUBLE) / CAST(NULLIF(w, 0) AS DOUBLE)
       |    > CAST('4.0' AS DOUBLE), FALSE) AS over_cap,
       |  CAST(CASE WHEN w > 0 THEN LEAST(alloc,
       |      CAST(FLOOR(CAST('4.0' AS DOUBLE) * CAST(w AS DOUBLE))
       |        AS BIGINT))
       |    ELSE 0 END AS BIGINT) AS capped_alloc,
       |  CAST(alloc - (CASE WHEN w > 0 THEN LEAST(alloc,
       |      CAST(FLOOR(CAST('4.0' AS DOUBLE) * CAST(w AS DOUBLE))
       |        AS BIGINT))
       |    ELSE 0 END) AS BIGINT) AS surrendered
       |FROM a ORDER BY source""".stripMargin)

  /** q173: the composed data recipe — allocate a 50k-token budget across
    * sources by token mass (q170's Hamilton allocation), then cut each
    * source at its allocation, longest documents first
    * (Sampling.tokenBudgetFillPerGroup: one global sharded prefix sum,
    * group bases and budgets broadcast — no per-group window). Every
    * stage replays in the oracle: allocation dag, partitioned running
    * total, boundary-drop filter.
    */
  private val budgetedMixture = QueryDef(
    (s, dir) => {
      // pinned: the tokenization projection feeds TWO independent
      // actions (the allocation's totals and the fill's prefix-sum
      // sharding) — uncached it would re-split every document's text per
      // consumer, doubling the dominant scan
      val scored = graft.core.Materialize.pin(Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("tok_cnt"))
        .withColumn("neg_tc", -col("tok_cnt")))
      val budgets = graft.operators.Sampling.allocateBudget(
        scored, "source", col("tok_cnt"), 50000L)
        .select(col("source"), col("alloc"))
      graft.operators.Sampling.tokenBudgetFillPerGroup(
        scored, "source", Seq("neg_tc", "doc_id"), "tok_cnt", budgets)
        .select(col("doc_id"), col("source"), col("tok_cnt"),
          col("offset").as("cum_before"), col("alloc"))
        .orderBy("doc_id")
    },
    """WITH tc AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tok_cnt
      |  FROM documents),
      |totals AS (SELECT source, CAST(SUM(tok_cnt) AS BIGINT) AS w
      |           FROM tc GROUP BY source),
      |g AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, COUNT(*) AS n FROM totals),
      |sh AS (SELECT source, w,
      |         CASE WHEN g.tw > 0
      |           THEN CAST(50000 AS DOUBLE) * CAST(w AS DOUBLE)
      |                / CAST(g.tw AS DOUBLE)
      |           ELSE CAST(50000 AS DOUBLE) / g.n END AS share
      |       FROM totals, g),
      |b AS (SELECT source, w, share,
      |        CAST(FLOOR(share) AS BIGINT) AS base_alloc,
      |        share - FLOOR(share) AS frac
      |      FROM sh),
      |l AS (SELECT 50000 - SUM(base_alloc) AS leftover FROM b),
      |r AS (SELECT source, base_alloc,
      |        ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS rk FROM b),
      |alloc AS (SELECT source,
      |            CAST(base_alloc + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END
      |              AS BIGINT) AS alloc
      |          FROM r, l),
      |cum AS (SELECT doc_id, source, tok_cnt,
      |          COALESCE(SUM(tok_cnt) OVER (PARTITION BY source
      |            ORDER BY tok_cnt DESC, doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |            AS cum_before
      |        FROM tc)
      |SELECT c.doc_id, c.source, c.tok_cnt,
      |  CAST(c.cum_before AS BIGINT) AS cum_before, a.alloc
      |FROM cum c JOIN alloc a USING (source)
      |WHERE c.cum_before + c.tok_cnt <= a.alloc
      |ORDER BY doc_id""".stripMargin)

  /** q174: Gopher rule battery (Rae et al. 2021 §A1.1) — per-document
    * metrics, one flag per rule, and the conjunction. minWords lowered to
    * 30 so the synthetic 10-99-word corpus exercises both branches; all
    * other thresholds are the published defaults.
    */
  private val gopherRules = QueryDef(
    (s, dir) =>
      graft.operators.GopherQuality.report(Tables.documents(s, dir),
          "doc_id", "text", stopwords,
          graft.operators.GopherQuality.Thresholds(minWords = 30))
        .orderBy("doc_id"),
    """SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
      |  stop_hits, ok_words, ok_mean_len, ok_symbols, ok_alpha, ok_stops,
      |  (ok_words AND ok_mean_len AND ok_symbols AND ok_alpha AND ok_stops)
      |    AS pass
      |FROM (
      |  SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
      |    stop_hits,
      |    n_words BETWEEN 30 AND 100000 AS ok_words,
      |    mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_len,
      |    symbol_ratio <= 0.1 AS ok_symbols,
      |    alpha_frac >= 0.8 AS ok_alpha,
      |    stop_hits >= 2 AS ok_stops
      |  FROM (
      |    SELECT doc_id,
      |      len(string_split(trim(text), ' ')) AS n_words,
      |      CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
      |        / len(string_split(trim(text), ' ')) AS mean_word_len,
      |      ((length(text) - length(replace(text, '#', ''))) / 1
      |        + (length(text) - length(replace(text, '...', ''))) / 3)
      |        / len(string_split(trim(text), ' ')) AS symbol_ratio,
      |      CAST(len(list_filter(string_split(trim(text), ' '),
      |          t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
      |        / len(string_split(trim(text), ' ')) AS alpha_frac,
      |      len(list_filter(string_split(trim(text), ' '),
      |          t -> t IN ('the','a','of','and','data'))) AS stop_hits
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin)

  /** q175: asymmetric containment near-dup pairs — the subset-duplicate
    * detector Jaccard misses (same candidate machinery and stop-shingle
    * cutoff as q41; the oracle replays both containment directions).
    */
  private val containmentPairs = QueryDef(
    (s, dir) =>
      TextDedup.ngramContainmentPairs(Tables.documents(s, dir), "doc_id",
          "text", n = 3, minContainment = 0.5, maxDocFreq = 1000L)
        .orderBy("doc_a", "doc_b"),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      |fsh AS (SELECT doc_id, s FROM sh JOIN kept USING (s)),
      |sz AS (SELECT doc_id, COUNT(*) sz FROM fsh GROUP BY 1),
      |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) inter
      |          FROM fsh a JOIN fsh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, sz_a, sz_b, cont_a, cont_b FROM (
      |  SELECT doc_a, doc_b, inter, x.sz AS sz_a, y.sz AS sz_b,
      |    CAST(inter AS DOUBLE) / x.sz AS cont_a,
      |    CAST(inter AS DOUBLE) / y.sz AS cont_b
      |  FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
      |WHERE greatest(cont_a, cont_b) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin)

  /** q176: corpus-granular n-gram overlap between the even- and odd-id
    * halves of the corpus — distinct trigram volumes, the shared count,
    * both containments and Jaccard in one row (TextDedup.corpusOverlap;
    * hash vs string trigram identity classifies identically, as q41 pins).
    */
  private val corpusOverlap = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextDedup.corpusOverlap(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", "text", n = 3)
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |ga AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0),
      |gb AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 1),
      |counts AS (SELECT
      |  (SELECT COUNT(*) FROM ga) AS grams_a,
      |  (SELECT COUNT(*) FROM gb) AS grams_b,
      |  (SELECT COUNT(*) FROM ga JOIN gb USING (s)) AS shared)
      |SELECT grams_a, grams_b, shared,
      |  CAST(shared AS DOUBLE) / grams_a AS cont_a_in_b,
      |  CAST(shared AS DOUBLE) / grams_b AS cont_b_in_a,
      |  CAST(shared AS DOUBLE) / (grams_a + grams_b - shared) AS jaccard
      |FROM counts""".stripMargin)

  /** q179: deterministic round-robin source interleave — training order as
    * (source_pos, source), md5-stable within each source; the global
    * position runs through the sharded prefix-sum rank, never a global
    * window (Sampling.interleaveBySource). Gated on the first 60 positions.
    */
  private val interleave = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.interleaveBySource(
          Tables.documents(s, dir), "doc_id", "source")
        .filter(col("train_pos") <= 60)
        .select("doc_id", "source", "source_pos", "train_pos")
        .orderBy("train_pos"),
    """SELECT doc_id, source, source_pos, train_pos FROM (
      |  SELECT doc_id, source, source_pos,
      |    CAST(ROW_NUMBER() OVER (ORDER BY source_pos, source) AS BIGINT)
      |      AS train_pos
      |  FROM (
      |    SELECT doc_id, source,
      |      CAST(ROW_NUMBER() OVER (PARTITION BY source
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
      |        AS source_pos
      |    FROM documents))
      |WHERE train_pos <= 60 ORDER BY train_pos""".stripMargin)

  /** q181: coverage-pruned vocabulary — the smallest frequency-ranked
    * prefix covering half the corpus token mass (Vocabulary.coveragePrune;
    * sharded prefix sum, broadcast total, stateless cut). The coverage
    * literal rides into the oracle as a quoted-string DOUBLE cast so both
    * engines compare against the identical IEEE value.
    */
  private val vocabCoverage = QueryDef(
    (s, dir) =>
      graft.operators.Vocabulary.coveragePrune(
          Tables.documents(s, dir), "text", coverage = 0.5)
        .orderBy("vid"),
    """WITH tf AS (
      |  SELECT term, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split(trim(text), ' ')) AS term
      |    FROM documents) GROUP BY term),
      |r AS (
      |  SELECT term, freq,
      |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT) AS vid,
      |    CAST(SUM(freq) OVER (ORDER BY freq DESC, term
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM tf),
      |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM tf)
      |SELECT term, freq, vid, cum_tokens,
      |  CAST(cum_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS cum_frac
      |FROM r, t
      |WHERE CAST(cum_tokens - freq AS DOUBLE)
      |  < CAST('0.5' AS DOUBLE) * CAST(total AS DOUBLE)
      |ORDER BY vid""".stripMargin)

  /** q182: split-leakage audit — the 80/20 content-hash split (q62's
    * bucketing) composed with the corpus-granular overlap report: how much
    * trigram mass the holdout shares with train. The number an eval-set
    * owner checks BEFORE trusting held-out loss; composition of two
    * already-gated operators, verified end-to-end.
    */
  private val splitLeakage = QueryDef(
    (s, dir) => {
      val sp = graft.operators.Sampling.split(
        Tables.documents(s, dir), "doc_id", trainPct = 80)
      TextDedup.corpusOverlap(
        sp.filter(col("split") === "train"),
        sp.filter(col("split") === "holdout"), "text", "text", n = 3)
    },
    """WITH sp AS (
      |  SELECT doc_id, text,
      |    CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |        AS BIGINT) % 100 < 80
      |      THEN 'train' ELSE 'holdout' END AS split
      |  FROM documents),
      |toks AS (SELECT doc_id, split, string_split(trim(text), ' ') t FROM sp),
      |sh AS (SELECT doc_id, split, unnest(list_distinct(
      |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
      |       FROM toks WHERE len(t) >= 3),
      |ga AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
      |gb AS (SELECT DISTINCT s FROM sh WHERE split = 'holdout'),
      |counts AS (SELECT
      |  (SELECT COUNT(*) FROM ga) AS grams_a,
      |  (SELECT COUNT(*) FROM gb) AS grams_b,
      |  (SELECT COUNT(*) FROM ga JOIN gb USING (s)) AS shared)
      |SELECT grams_a, grams_b, shared,
      |  CAST(shared AS DOUBLE) / grams_a AS cont_a_in_b,
      |  CAST(shared AS DOUBLE) / grams_b AS cont_b_in_a,
      |  CAST(shared AS DOUBLE) / (grams_a + grams_b - shared) AS jaccard
      |FROM counts""".stripMargin)

  /** q184: collocation detection by pointwise lift over adjacent bigrams
    * (Collocations.bigramLift) — PMI sans logarithm so the score is a
    * fixed multiply/divide dag both engines compute bitwise-identically;
    * top 30 at support ≥ 20, ties broken lexically.
    */
  private val collocations = QueryDef(
    (s, dir) =>
      graft.operators.Collocations.bigramLift(
          Tables.documents(s, dir), "text", minCount = 20L)
        .orderBy(desc("lift"), col("a"), col("b"))
        .limit(30),
    """WITH toks AS (SELECT string_split(trim(text), ' ') t FROM documents),
      |uni AS (SELECT unnest(t) w FROM toks),
      |uc AS (SELECT w, COUNT(*) c FROM uni GROUP BY w),
      |tt AS (SELECT COUNT(*) tot_t FROM uni),
      |bt AS (SELECT CAST(SUM(len(t) - 1) AS BIGINT) tot_b FROM toks),
      |bc AS (SELECT s, COUNT(*) c_ab FROM (
      |    SELECT unnest([array_to_string(t[i:i+1], ' ')
      |      for i in range(1, len(t))]) s
      |    FROM toks WHERE len(t) >= 2)
      |  GROUP BY s HAVING COUNT(*) >= 20),
      |scored AS (
      |  SELECT split_part(s, ' ', 1) AS a, split_part(s, ' ', 2) AS b,
      |    c_ab, x.c AS c_a, y.c AS c_b,
      |    (CAST(c_ab AS DOUBLE) * CAST(tot_t AS DOUBLE) * CAST(tot_t AS DOUBLE))
      |      / (CAST(tot_b AS DOUBLE) * CAST(x.c AS DOUBLE) * CAST(y.c AS DOUBLE))
      |      AS lift
      |  FROM bc
      |  CROSS JOIN tt CROSS JOIN bt
      |  JOIN uc x ON split_part(s, ' ', 1) = x.w
      |  JOIN uc y ON split_part(s, ' ', 2) = y.w)
      |SELECT a, b, c_ab, c_a, c_b, lift FROM scored
      |ORDER BY lift DESC, a, b LIMIT 30""".stripMargin)

  /** q187: per-source PII density profile (Redaction.piiProfile) over a
    * synthetic leak pattern — every 3rd doc leaks an email, every 5th a
    * phone, every 7th an IP — so sources differ in rate and every category
    * sums independently. The release-gate report upstream of q71's
    * scrubbing.
    */
  private val piiReport = QueryDef(
    (s, dir) => {
      val leak = concat(substring(col("text"), 1, 40),
        when(col("doc_id") % 3 === 0,
          concat(lit(" u"), col("doc_id"), lit("@ex.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" +1-555-0100")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" 10.0.0."), col("doc_id") % 250)).otherwise(lit("")))
      graft.functions.Redaction.piiProfile(
          Tables.documents(s, dir).withColumn("msg", leak),
          Seq("source"), col("msg"))
        .orderBy("source")
    },
    """WITH synth AS (
      |  SELECT source,
      |    substring(text, 1, 40)
      |    || CASE WHEN doc_id % 3 = 0
      |         THEN ' u' || CAST(doc_id AS VARCHAR) || '@ex.com' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ' +1-555-0100' ELSE '' END
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' 10.0.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
      |      AS msg
      |  FROM documents),
      |counted AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(msg,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS e,
      |    CAST(len(regexp_extract_all(msg,
      |      '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}')) AS BIGINT) AS p,
      |    CAST(len(regexp_extract_all(msg,
      |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS i
      |  FROM synth)
      |SELECT source, n_docs, n_emails, n_phones, n_ips, docs_with_pii,
      |  CAST(docs_with_pii AS DOUBLE) / n_docs AS pii_rate
      |FROM (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(e) AS BIGINT) AS n_emails,
      |    CAST(SUM(p) AS BIGINT) AS n_phones,
      |    CAST(SUM(i) AS BIGINT) AS n_ips,
      |    CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS docs_with_pii
      |  FROM counted GROUP BY source)
      |ORDER BY source""".stripMargin)

  /** q189: training-shard integrity manifest (Sampling.shardManifest) —
    * per shard: rows, token mass, first/last key in shard order, and the
    * order-insensitive XOR content checksum. The oracle replays the md5
    * shard/order assignment (q85's bucketing) and the 60-bit hash XOR.
    */
  private val shardManifest = QueryDef(
    (s, dir) =>
      graft.operators.Sampling.shardManifest(
          Tables.documents(s, dir), "doc_id", "text", nShards = 8,
          weight = tokenCount(col("text")))
        .orderBy("shard"),
    """WITH sharded AS (
      |  SELECT doc_id, text,
      |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |      AS BIGINT) % 8 AS INTEGER) AS shard,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, text, shard,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
      |      AS BIGINT) AS shard_pos,
      |    CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS ch
      |  FROM sharded)
      |SELECT shard, COUNT(*) AS n_rows,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
      |    AS total_weight,
      |  FIRST(doc_id ORDER BY shard_pos) AS first_key,
      |  LAST(doc_id ORDER BY shard_pos) AS last_key,
      |  bit_xor(ch) AS checksum
      |FROM pos GROUP BY shard ORDER BY shard""".stripMargin)

  /** q190: BM25 ranked retrieval (Bm25.scoreTopK) — three term queries
    * against the corpus, top 10 each through the native heap exec. Logs
    * run on the driver (Math.log ≡ DuckDB ln bitwise — the LM gates'
    * contract); the per-document sum folds in sorted term order, so the
    * oracle's list_sum(list(… ORDER BY term)) replays it float-exactly.
    */
  private val bm25 = QueryDef(
    (s, dir) =>
      graft.operators.Bm25.scoreTopK(Tables.documents(s, dir), "doc_id",
          "text", Seq(
            "q1" -> "spark table join",
            "q2" -> "customer stream window",
            "q3" -> "vector data fast"), topK = 10)
        .orderBy(col("query_id"), desc("score"), col("doc_id")),
    """WITH d AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks
      |  FROM documents),
      |dl AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
      |    ELSE CAST(len(toks) AS BIGINT) END AS dl FROM d),
      |st AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      |  FROM dl),
      |q(query_id, term) AS (VALUES
      |  ('q1', 'spark'), ('q1', 'table'), ('q1', 'join'),
      |  ('q2', 'customer'), ('q2', 'stream'), ('q2', 'window'),
      |  ('q3', 'vector'), ('q3', 'data'), ('q3', 'fast')),
      |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (
      |    SELECT doc_id, unnest(list_distinct(toks)) AS term FROM d)
      |  WHERE term IN (SELECT term FROM q) GROUP BY term),
      |idf AS (SELECT q.query_id, q.term,
      |    ln((CAST(st.n - dfs.df AS DOUBLE) + CAST('0.5' AS DOUBLE))
      |      / (CAST(dfs.df AS DOUBLE) + CAST('0.5' AS DOUBLE)) + 1) AS idf,
      |    st.avgdl
      |  FROM q JOIN dfs USING (term) CROSS JOIN st),
      |tf AS (SELECT e.doc_id, l.dl, e.term, CAST(COUNT(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS term FROM d) e
      |  JOIN dl l USING (doc_id)
      |  WHERE e.term IN (SELECT term FROM q)
      |  GROUP BY e.doc_id, l.dl, e.term),
      |contrib AS (SELECT i.query_id, tf.doc_id, tf.term,
      |    i.idf * (tf.tf * (CAST('1.2' AS DOUBLE) + 1))
      |      / (tf.tf + CAST('1.2' AS DOUBLE) * ((1 - CAST('0.75' AS DOUBLE))
      |        + CAST('0.75' AS DOUBLE) * CAST(tf.dl AS DOUBLE) / i.avgdl))
      |      AS contrib
      |  FROM tf JOIN idf i USING (term)),
      |scored AS (SELECT query_id, doc_id,
      |    list_sum(list(contrib ORDER BY term)) AS score
      |  FROM contrib GROUP BY query_id, doc_id)
      |SELECT query_id, doc_id, score FROM (
      |  SELECT query_id, doc_id, score, ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      |  FROM scored)
      |WHERE rn <= 10 ORDER BY query_id, score DESC, doc_id""".stripMargin)

  /** q196: preference-pair construction (PreferencePairs.pairByScore) —
    * per source, the i-th longest document chosen against the i-th
    * shortest at margin ≥ 1 character, mirror tie-breaks guaranteeing
    * disjoint sides. The oracle replays both rank orders and the join.
    */
  private val preferencePairs = QueryDef(
    (s, dir) =>
      graft.operators.PreferencePairs.pairByScore(
          Tables.documents(s, dir), "doc_id", "source",
          col("n_chars").cast("double"), minMargin = 1.0)
        .orderBy("source", "pos"),
    """WITH scored AS (
      |  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents),
      |b AS (SELECT source, doc_id, s,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY s DESC, doc_id ASC) AS BIGINT) AS pos,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM scored),
      |w AS (SELECT source, doc_id, s,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY s ASC, doc_id DESC) AS BIGINT) AS pos
      |  FROM scored)
      |SELECT b.source, b.pos, b.doc_id AS chosen_id, w.doc_id AS rejected_id,
      |  b.s AS chosen_score, w.s AS rejected_score, b.s - w.s AS margin
      |FROM b JOIN w ON b.source = w.source AND b.pos = w.pos
      |WHERE b.pos <= FLOOR(n / 2) AND b.s - w.s >= 1.0
      |ORDER BY b.source, b.pos""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q196_preference_pairs" -> preferencePairs,
    "q190_bm25" -> bm25,
    "q189_shard_manifest" -> shardManifest,
    "q187_pii_report" -> piiReport,
    "q184_collocations" -> collocations,
    "q181_vocab_coverage" -> vocabCoverage,
    "q182_split_leakage" -> splitLeakage,
    "q173_budgeted_mixture" -> budgetedMixture,
    "q170_budget_allocation" -> budgetAllocation,
    "q201_epoch_audit" -> epochAudit,
    "q167_cdc_chunks" -> cdcChunks,
    "q166_oov_rate" -> oovRate,
    "q165_canonical_pick" -> canonicalPick,
    "q164_ngram_novelty" -> ngramNovelty,
    "q142_corpus_pipeline4" -> corpusPipeline4,
    "q218_corpus_pipeline5" -> corpusPipeline5,
    "q140_bpe_pair_stats" -> bpePairStats,
    "q141_bpe_encode" -> bpeEncode,
    "q138_blocklist_scan" -> blocklistScan,
    "q135_domain_tag" -> domainTag,
    "q134_bigram_nll" -> bigramNll,
    "q133_grouped_packing" -> groupedPacking,
    "q132_sliding_chunks" -> slidingChunks,
    "q131_corpus_card" -> corpusCard,
    "q129_self_repeat_strip" -> selfRepeatStrip,
    "q119_strip_contamination" -> stripContamination,
    "q118_corpus_pipeline3" -> corpusPipeline3,
    "q117_token_budget" -> tokenBudget,
    "q115_ppl_buckets" -> pplBuckets,
    "q114_unigram_nll" -> unigramNll,
    "q113_minhash_dup_groups" -> minhashDupGroups,
    "q110_dup_spans" -> dupSpans,
    "q111_strip_spans" -> stripSpans,
    "q106_corpus_pipeline2" -> corpusPipeline2,
    "q109_quality_reasons" -> qualityReasons,
    "q85_corpus_shards" -> corpusShards,
    "q86_tfidf" -> tfidfTerms,
    "q88_word_familiarity" -> wordFamiliarity,
    "q89_curriculum" -> curriculum,
    "q62_hash_split" -> hashSplit,
    "q82_url_filter" -> urlFilter,
    "q76_stratified_sample" -> stratified,
    "q77_contamination_report" -> contaminationReport,
    "q75_sequence_packing" -> sequencePacking,
    "q70_repetition" -> repetition,
    "q71_pii_redact" -> piiRedact,
    "q72_dedup_keepset" -> dedupKeepSet,
    "q73_mixture_sample" -> mixtureSample,
    "q100_temperature_mixture" -> temperatureMixture,
    "q104_heavy_tokens" -> heavyTokens,
    "q105_vocab_encode" -> vocabEncode,
    "q74_token_chunks" -> tokenChunks,
    "q63_decontaminate" -> decontaminate,
    "q96_bloom_decontaminate" -> bloomDecontaminate,
    "q97_sorted_neighborhood" -> sortedNeighborhood,
    "q66_winnow_fingerprints" -> winnowFp,
    "q67_bpe_tokens" -> bpeTokens,
    "q68_dup_groups" -> dupGroups,
    "q174_gopher_rules" -> gopherRules,
    "q175_containment_pairs" -> containmentPairs,
    "q176_corpus_overlap" -> corpusOverlap,
    "q179_interleave" -> interleave,
    "q37_token_stats" -> tokenStats,
    "q38_lang_stats" -> langStats,
    "q39_quality_filter" -> qualityFilter,
    "q40_fingerprint_dedup" -> fingerprintDedup,
    "q41_ngram_jaccard" -> ngramJaccard,
    "q239_prefix_filter_join" -> prefixFilterJoin,
    "q42_minhash_lsh" -> minhashLsh,
    "q43_simhash_pairs" -> simhashPairs,
    "q122_lm_score_join" -> lmScoreJoin,
    "q123_incremental_dedup" -> incrementalDedup,
    "q124_dsir_score" -> dsirScore,
    "q158_logistic_score" -> logisticScore,
    "q198_calibration" -> calibration,
    "q202_auc" -> aucGate,
    "q203_roc" -> rocGate,
    "q205_filter_agreement" -> filterAgreement,
    "q211_pr_curve" -> prCurveGate,
    "q213_hellinger_drift" -> hellingerDrift,
    "q214_ngram_diversity" -> ngramDiversity,
    "q206_truncation_audit" -> truncationAudit,
    "q207_split_balance" -> splitBalance,
    "q208_lexical_diversity" -> lexicalDiversity,
    "q209_compression_report" -> compressionReport,
    "q199_ece" -> eceGate,
    "q200_fertility" -> fertility,
    "q160_length_batches" -> lengthBatches,
    "q125_dsir_select" -> dsirSelect,
    "q126_epoch_upsample" -> epochUpsample,
    "q127_incremental_near_dedup" -> incrementalNearDedup,
    "q128_term_drift" -> termDrift)
}
