package graft.queries

import graft.core.{QueryDef, Tables}
import graft.multimodal.{MultimodalOps, StubDecoder}
import graft.streaming.EventStreams

import org.apache.spark.sql.functions._

/** Batch-checkable faces of the streaming + multimodal surface: the same
  * transform functions run unchanged under readStream (see
  * EventStreamsSpec); here their results on the finite input go through
  * the correctness gate.
  */
object Stream {

  /** Gap sessionization (30 min) over events: the `session_window`
    * operator that also runs on a stream, checked against a lag-gap-cumsum
    * replay in DuckDB.
    */
  private val sessions = QueryDef(
    (s, dir) =>
      graft.core.QueryDef.orderedOut(
        EventStreams.sessionize(Tables.events(s, dir),
          gapMs = 30 * 60 * 1000L),
        "user_id", "session_start"),
    """WITH t AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, SUM(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM t)
      |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin)

  /** Binary media metadata: byte length + content hash over the opaque
    * binary column (documents bytes standing in for media bytes).
    */
  private val binaryMeta = QueryDef(
    (s, dir) =>
      MultimodalOps.textAsMedia(Tables.documents(s, dir), "doc_id", "text")
        .select(col("media_id"), col("kind"),
          octet_length(col("content")).as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("media_id"),
    """SELECT doc_id AS media_id,
      |  (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
      |  octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents ORDER BY media_id""".stripMargin)

  /** The h/d stub-decode CTEs shared by the q61 and q186 oracles — one
    * definition of the Arrays.hashCode replay so the two gates can never
    * disagree about the decoder's arithmetic.
    */
  private val stubDecodeSql: String =
    """SELECT doc_id AS media_id, kind, byte_len,
      |    CAST(64 + ((jh % 1024) + 1024) % 1024 AS INTEGER) AS width,
      |    CAST(64 + ((CAST(floor(jh / 1024.0) AS BIGINT) % 1024) + 1024) % 1024
      |      AS INTEGER) AS height,
      |    CAST(CASE WHEN kind = 'video'
      |      THEN 1 + ((CAST(floor(jh / 1048576.0) AS BIGINT) % 300) + 300) % 300
      |      ELSE 1 END AS INTEGER) AS n_frames
      |  FROM (
      |  SELECT doc_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |    CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
      |    CASE WHEN length(text) = 0 THEN 1 ELSE list_reduce(
      |      list_prepend(CAST(1 AS BIGINT),
      |        [CAST(unicode(c) AS BIGINT) for c in string_split(text, '')]),
      |      (a, b) -> (((31 * a + b + 2147483648) % 4294967296 + 4294967296)
      |                 % 4294967296) - 2147483648) END AS jh
      |  FROM documents)""".stripMargin

  /** Stub decode + resize plumbing. The stub decoder is DETERMINISTIC
    * (dimensions from the JVM byte-array hash, frame count likewise), so
    * the oracle replays it: `java.util.Arrays.hashCode(byte[])` is the
    * 31-polynomial fold with int32 wraparound, rebuilt in SQL as a
    * list_reduce over per-char code points (the synthetic documents are
    * pure ASCII, so chars ARE the UTF-8 bytes) with an explicit floor-mod
    * 2^32 wrap — DuckDB's % is remainder, and a remainder wrap corrupts
    * every modulus that does not divide 2^32 (caught on n_frames' mod
    * 300). Empty text is special-cased to the JVM's empty-array hash of 1:
    * DuckDB string_split('', '') yields [''] and unicode('') is -1, which
    * would fold to 30. Feature vectors stay engine-side (MultimodalSpec).
    */
  private val decodedMedia = QueryDef(
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = MultimodalOps.textAsMedia(Tables.documents(s, dir), "doc_id", "text")
        .as[graft.multimodal.MediaRecord]
      MultimodalOps.resizeMeta(
        MultimodalOps.decodeAll(media, StubDecoder).toDF(), maxEdge = 256)
        .select("media_id", "kind", "byte_len", "width", "height",
          "out_width", "out_height", "n_frames")
        .orderBy("media_id")
    },
    s"""WITH d AS ($stubDecodeSql)
       |SELECT media_id, kind, byte_len, width, height,
       |  CAST(CASE WHEN greatest(width, height) > 256
       |    THEN floor(width * (256.0 / greatest(width, height)))
       |    ELSE width END AS INTEGER) AS out_width,
       |  CAST(CASE WHEN greatest(width, height) > 256
       |    THEN floor(height * (256.0 / greatest(width, height)))
       |    ELSE height END AS INTEGER) AS out_height,
       |  n_frames
       |FROM d ORDER BY media_id""".stripMargin)

  /** Sliding windows (1 h window, 15 min slide) as a batch computation:
    * each event belongs to 4 overlapping windows — explode the covering
    * window starts, then aggregate. Mirrors EventStreams.slidingRates.
    */
  private val slidingWindows = QueryDef(
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("window_start", explode(sequence(
          date_trunc("hour", col("ts") - expr("INTERVAL 45 MINUTES")),
          date_trunc("hour", col("ts")) +
            (floor(minute(col("ts")) / 15) * expr("INTERVAL 15 MINUTES")),
          expr("INTERVAL 15 MINUTES"))))
        .filter(col("ts") >= col("window_start") &&
          col("ts") < col("window_start") + expr("INTERVAL 1 HOUR"))
        .groupBy("window_start", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("window_start", "event_type"),
    """SELECT window_start, event_type, COUNT(*) AS n FROM (
      |  SELECT e.event_type, e.ts, w.window_start
      |  FROM events e, LATERAL (
      |    SELECT unnest(generate_series(
      |      date_trunc('hour', e.ts - INTERVAL 45 MINUTE),
      |      date_trunc('hour', e.ts) + (date_part('minute', e.ts) // 15) * INTERVAL 15 MINUTE,
      |      INTERVAL 15 MINUTE)) AS window_start) w
      |  WHERE e.ts >= w.window_start AND e.ts < w.window_start + INTERVAL 1 HOUR)
      |GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin)

  /** Stream-stream interval join (purchases ⋈ same-user views within 30 min
    * BEFORE the purchase) run on finite input: `purchaseViewJoin` is the
    * exact function the streaming path uses — the analyzer eliminates the
    * watermarks on batch input, leaving the pure join semantics for the
    * oracle to pin down. EventStreamsSpec asserts micro-batched streaming
    * parity against this same call.
    */
  private val purchaseViewJoin = QueryDef(
    (s, dir) =>
      EventStreams.purchaseViewJoin(Tables.events(s, dir), withinMs = 30 * 60 * 1000L)
        .orderBy("user_id", "purchase_id", "view_id"),
    """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
      |  v.event_id AS view_id, v.ts AS view_ts
      |FROM events p JOIN events v
      |  ON p.user_id = v.user_id
      | AND p.event_type = 'purchase' AND v.event_type = 'view'
      | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
      |ORDER BY p.user_id, purchase_id, view_id""".stripMargin)

  /** Stream-static enrichment (EventStreams.enrichWithDim) on finite input:
    * events joined to the customer dimension (broadcast, stateless), rolled
    * up per market segment × event type. EventStreamsSpec asserts the same
    * function produces identical rows under readStream micro-batching.
    */
  private val streamEnrich = QueryDef(
    (s, dir) =>
      EventStreams.enrichWithDim(
        Tables.events(s, dir), Tables.customer(s, dir), "user_id", "c_custkey")
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"),
          graft.core.OracleArith.sumDec(col("value")).as("sum_value"))
        .orderBy("c_mktsegment", "event_type"),
    s"""SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
       |  ${graft.core.OracleArith.sqlSumDec("value")} AS sum_value
       |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin)

  /** q186: deterministic video frame sampling over the decoded media —
    * every 7th frame index per video record (MultimodalOps.sampleFrames;
    * metadata-level, the real pipeline explodes nested frame bytes the
    * same way). Oracle rides the shared stub-decode CTE.
    */
  private val frameSampling = QueryDef(
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = MultimodalOps.textAsMedia(Tables.documents(s, dir), "doc_id", "text")
        .as[graft.multimodal.MediaRecord]
      MultimodalOps.sampleFrames(
        MultimodalOps.decodeAll(media, StubDecoder), everyN = 7)
        .orderBy("media_id", "frame_idx")
    },
    s"""WITH d AS ($stubDecodeSql)
       |SELECT media_id, CAST(f AS INTEGER) AS frame_idx FROM (
       |  SELECT media_id, unnest(range(0, n_frames, 7)) AS f
       |  FROM d WHERE kind = 'video')
       |ORDER BY media_id, frame_idx""".stripMargin)

  /** q215: fixed-duration audio chunk layout (MultimodalOps.audioChunks)
    * over the stub-decoded media — 10 ms windows at 16 kHz (160 samples
    * per chunk), partial tail flagged. Sample counts come from byte_len,
    * so the whole layout is integer arithmetic the oracle replays off the
    * shared stub-decode CTE; duration_ms is the one double, computed with
    * the identical op chain on both engines.
    */
  private val audioChunks = QueryDef(
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = MultimodalOps.textAsMedia(Tables.documents(s, dir), "doc_id", "text")
        .as[graft.multimodal.MediaRecord]
      MultimodalOps.audioChunks(
        MultimodalOps.decodeAll(media, StubDecoder).toDF(),
        windowMs = 10, sampleRateHz = 16000)
        .orderBy("media_id", "chunk_idx")
    },
    s"""WITH d AS ($stubDecodeSql)
       |SELECT media_id, chunk_idx,
       |  chunk_idx * 160 AS start_sample,
       |  least(chunk_idx * 160 + 160, n_samples) AS end_sample,
       |  (least(chunk_idx * 160 + 160, n_samples) - chunk_idx * 160)
       |    * 1000.0 / 16000 AS duration_ms,
       |  least(chunk_idx * 160 + 160, n_samples) - chunk_idx * 160 < 160
       |    AS is_partial
       |FROM (
       |  SELECT media_id, CAST(byte_len AS BIGINT) AS n_samples,
       |    unnest(range(0, (byte_len - 1) // 160 + 1)) AS chunk_idx
       |  FROM d WHERE kind = 'audio' AND byte_len > 0)
       |ORDER BY media_id, chunk_idx""".stripMargin)

  /** q216: tile-grid layout (MultimodalOps.tileGrid) over the stub-decoded
    * media — 224-pixel tiles with edge tiles clipped to the image, the
    * patching pass a vision encoder runs before embedding. Width/height
    * replay from the shared stub-decode CTE; everything else is integer
    * division and min.
    */
  private val tileGridGate = QueryDef(
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val media = MultimodalOps.textAsMedia(Tables.documents(s, dir), "doc_id", "text")
        .as[graft.multimodal.MediaRecord]
      MultimodalOps.tileGrid(
        MultimodalOps.decodeAll(media, StubDecoder).toDF(), tile = 224)
        .orderBy("media_id", "tile_y", "tile_x")
    },
    s"""WITH d AS ($stubDecodeSql)
       |SELECT media_id, CAST(tile_x AS INTEGER) AS tile_x,
       |  CAST(tile_y AS INTEGER) AS tile_y,
       |  CAST(tile_x * 224 AS INTEGER) AS x0,
       |  CAST(tile_y * 224 AS INTEGER) AS y0,
       |  CAST(least(224, width - tile_x * 224) AS INTEGER) AS w,
       |  CAST(least(224, height - tile_y * 224) AS INTEGER) AS h
       |FROM (
       |  SELECT media_id, width, height, ty.tile_y, tx.tile_x
       |  FROM d,
       |    LATERAL (SELECT unnest(range(0, (height - 1) // 224 + 1)) AS tile_y) ty,
       |    LATERAL (SELECT unnest(range(0, (width - 1) // 224 + 1)) AS tile_x) tx
       |  WHERE kind = 'image' AND width > 0 AND height > 0)
       |ORDER BY media_id, tile_y, tile_x""".stripMargin)

  /** q188: watermark-lateness audit (EventStreams.latenessAudit) — the
    * recorded events arrive perfectly ordered, so the gate perturbs event
    * time deterministically (each event's time pulled back by
    * (event_id mod 13) × 90 s) to create real disorder, then tallies per
    * event type what a 5-minute watermark would drop. The running max is
    * the sharded two-phase pass; the oracle replays it with a plain
    * running-max window over arrival order.
    */
  private val lateEvents = QueryDef(
    (s, dir) => {
      val perturbed = Tables.events(s, dir)
        .withColumn("ev_us",
          unix_micros(col("ts")) - (col("event_id") % 13) * lit(90000000L))
      graft.streaming.EventStreams.latenessAudit(
          perturbed, "event_id", "ev_us", allowedLatenessUs = 300000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_late"), 1L).otherwise(0L)).as("n_late"),
          max(col("lateness_us")).as("max_lateness_us"))
        .withColumn("late_rate",
          col("n_late").cast("double") / col("n_events"))
        .orderBy("event_type")
    },
    """WITH perturbed AS (
      |  SELECT event_id, event_type,
      |    epoch_us(ts) - (event_id % 13) * 90000000 AS ev_us
      |  FROM events),
      |marked AS (
      |  SELECT event_type, ev_us,
      |    MAX(ev_us) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
      |  FROM perturbed),
      |flagged AS (
      |  SELECT event_type,
      |    GREATEST(COALESCE(wm - ev_us, 0), 0) AS lateness_us
      |  FROM marked)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN lateness_us > 300000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_late,
      |  CAST(MAX(lateness_us) AS BIGINT) AS max_lateness_us,
      |  CAST(SUM(CASE WHEN lateness_us > 300000000 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*) AS late_rate
      |FROM flagged GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** q192: per-stream freshness classification (Freshness.checkPerGroup,
    * reference health_check.py:318-387 thresholds) — the recorded streams
    * are all equally fresh, so the gate ages each event type by a fixed
    * injected offset and classifies against a fixed "now", hitting all
    * three statuses deterministically.
    */
  private val freshness = QueryDef(
    (s, dir) => {
      val shift = when(col("event_type") === "click", expr("INTERVAL 0 HOURS"))
        .when(col("event_type") === "view", expr("INTERVAL 16 HOURS"))
        .when(col("event_type") === "purchase", expr("INTERVAL 30 HOURS"))
        .when(col("event_type") === "signup", expr("INTERVAL 5 HOURS"))
        .otherwise(expr("INTERVAL 50 HOURS"))
      graft.observe.Freshness.checkPerGroup(
          Tables.events(s, dir).withColumn("ts", col("ts") - shift),
          Seq("event_type"), "ts", nowEpochSec = 1706680800L)
        .orderBy("event_type")
    },
    """WITH shifted AS (
      |  SELECT event_type, ts - CASE event_type
      |    WHEN 'click' THEN INTERVAL 0 HOUR
      |    WHEN 'view' THEN INTERVAL 16 HOUR
      |    WHEN 'purchase' THEN INTERVAL 30 HOUR
      |    WHEN 'signup' THEN INTERVAL 5 HOUR
      |    ELSE INTERVAL 50 HOUR END AS ts2
      |  FROM events),
      |g AS (SELECT event_type, MAX(ts2) AS latest
      |  FROM shifted GROUP BY event_type),
      |aged AS (SELECT event_type, latest,
      |    (1706680800 - epoch_us(latest) // 1000000)
      |      / CAST('3600.0' AS DOUBLE) AS age_hours
      |  FROM g)
      |SELECT event_type, latest, age_hours,
      |  CASE WHEN age_hours <= 12 THEN 'fresh'
      |    WHEN age_hours <= 24 THEN 'aging'
      |    ELSE 'stale' END AS status
      |FROM aged ORDER BY event_type""".stripMargin)

  /** q195: conversation assembly (Conversations.assemble) — per-user
    * event streams cut into chat-style conversations at a 30-minute gap,
    * with role alternation / opens-with-user validation and the flattened
    * transcript (roles derived from event type: view/click = user, the
    * rest = assistant). The oracle replays the session cut (q55's rule),
    * the lag-based alternation flag, and the ordered string_agg.
    */
  private val conversations = QueryDef(
    (s, dir) =>
      graft.operators.Conversations.assemble(
          Tables.events(s, dir), "user_id", "ts", "event_id",
          role = when(col("event_type").isin("view", "click"), "user")
            .otherwise("assistant"),
          content = col("event_type"),
          gapMs = 30 * 60 * 1000L)
        // materialize-before-global-sort: the range sampler otherwise
        // re-runs the whole window pipeline (QueryDef.orderedOut)
        .transform(d => graft.core.QueryDef.orderedOut(
          d, "user_id", "session_no")),
    """WITH t AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_type IN ('view', 'click') THEN 'user'
      |      ELSE 'assistant' END AS role,
      |    event_type AS content,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
      |      ELSE 0 END AS cut
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, CAST(SUM(cut) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS session_no
      |  FROM t),
      |d AS (
      |  SELECT *, CASE WHEN lag(role) OVER (PARTITION BY user_id, session_no
      |      ORDER BY ts, event_id) = role THEN 1 ELSE 0 END AS dup
      |  FROM s)
      |SELECT user_id, session_no, COUNT(*) AS n_turns,
      |  CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_user_turns,
      |  CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_assistant_turns,
      |  SUM(dup) = 0 AS alternation_ok,
      |  FIRST(role ORDER BY ts, event_id) = 'user' AS starts_with_user,
      |  string_agg(role || ':' || content, ' | ' ORDER BY ts, event_id)
      |    AS transcript
      |FROM d GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin)

  /** SFT loss-mask spans (§2.10 fine-tuning prep): the q195 turn stream
    * annotated with token-offset segments and the assistant-only loss
    * weight a trainer applies per span. Deterministic integer arithmetic
    * end to end (hash-aligned token counts + window prefix sums), so the
    * oracle replays it exactly. Gated on a ~1%-of-users slice (user_id %
    * 97 = 0): the windows are per-user, so the slice changes no kept
    * user's spans, and the dump stays bounded (turn-level output is
    * corpus-sized unsliced).
    */
  private val sftMasks = QueryDef(
    (s, dir) =>
      graft.operators.SftMasks.lossMaskSpans(
          Tables.events(s, dir).filter(pmod(col("user_id"), lit(97)) === 0),
          "user_id", "ts", "event_id",
          role = when(col("event_type").isin("view", "click"), "user")
            .otherwise("assistant"),
          content = concat(col("event_type"), lit(" "), col("props")),
          gapMs = 30 * 60 * 1000L)
        .transform(d => graft.core.QueryDef.orderedOut(
          d, "user_id", "session_no", "turn_idx")),
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_type IN ('view', 'click') THEN 'user'
      |      ELSE 'assistant' END AS role,
      |    CAST(len(list_filter(
      |      string_split_regex(event_type || ' ' || props, '[ \t\n\r]+'),
      |      t -> t != '')) AS BIGINT) AS n_tokens,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
      |      ELSE 0 END AS cut
      |  FROM events WHERE user_id % 97 = 0
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, CAST(SUM(cut) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS session_no
      |  FROM e)
      |SELECT user_id, session_no,
      |  CAST(row_number() OVER ws AS BIGINT) AS turn_idx, role, n_tokens,
      |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY user_id, session_no
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS seg_start,
      |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY user_id, session_no
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n_tokens
      |    AS BIGINT) AS seg_end,
      |  CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END AS INTEGER)
      |    AS loss_weight,
      |  CAST(SUM(n_tokens) OVER (PARTITION BY user_id, session_no)
      |    AS BIGINT) AS example_tokens,
      |  CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN n_tokens END)
      |    OVER (PARTITION BY user_id, session_no), 0) AS BIGINT)
      |    AS loss_tokens
      |FROM s WINDOW ws AS (PARTITION BY user_id, session_no
      |  ORDER BY ts, event_id)
      |ORDER BY user_id, session_no, turn_idx""".stripMargin)

  /** q225: streaming distinct-user counts per event type —
    * EventStreams.distinctCountsHll on the batch frame; EventStreamsSpec
    * runs the same call on a file stream and pins its last emission per
    * group bit-equal to this across a checkpoint restart. The oracle
    * replays the full md5-HLL dag (registers, ordered fold,
    * linear-counting branch) exactly as q223 does.
    */
  private val streamDistinct: QueryDef = {
    import graft.operators.HllMd5
    QueryDef(
      (s, dir) =>
        EventStreams.distinctCountsHll(
          Tables.events(s, dir).filter(col("user_id").isNotNull),
          "event_type", "user_id")
          .orderBy("event_type"),
      s"""WITH keys AS (
         |  SELECT event_type, CAST(user_id AS VARCHAR) AS k
         |  FROM events WHERE user_id IS NOT NULL),
         |h AS (SELECT event_type,
         |        CAST('0x' || substring(md5(k), 1, 15) AS BIGINT) AS h FROM keys),
         |reg AS (
         |  SELECT event_type, h >> 50 AS reg_idx,
         |    MAX(CASE WHEN (h & ((CAST(1 AS BIGINT) << 50) - 1)) = 0 THEN 51
         |        ELSE 51 - length(bin(h & ((CAST(1 AS BIGINT) << 50) - 1))) END) AS r
         |  FROM h GROUP BY 1, 2),
         |est AS (
         |  SELECT event_type, COUNT(*) AS m_used,
         |    list_sum(list(CAST('1.0' AS DOUBLE) /
         |      CAST(CAST(1 AS BIGINT) << r AS DOUBLE) ORDER BY reg_idx)) AS s_present
         |  FROM reg GROUP BY 1),
         |fin AS (
         |  SELECT event_type, m_used, 1024 - m_used AS v_zero,
         |    CAST('${HllMd5.AlphaMM}' AS DOUBLE) /
         |      (s_present + CAST(1024 - m_used AS DOUBLE)) AS raw_est
         |  FROM est)
         |SELECT event_type, m_used, v_zero,
         |  CASE WHEN raw_est <= CAST('${HllMd5.SmallRangeCutoff}' AS DOUBLE)
         |        AND v_zero > 0
         |       THEN CAST('1024.0' AS DOUBLE) *
         |         ln(CAST('1024.0' AS DOUBLE) / CAST(v_zero AS DOUBLE))
         |       ELSE raw_est END AS hll_estimate
         |FROM fin ORDER BY event_type""".stripMargin)
  }

  /** q230: rolling 7-day distinct users per day (the WAU metric) through
    * HllMd5.rollingDistinct — registers per day, rolling union as a
    * RANGE-frame window max over register rows (at most 1024 per day,
    * corpus-size-independent), estimate folded exactly like q223's. The
    * oracle replays the full dag: day spine x range(1024), the same
    * window, the same ordered fold.
    */
  private val rollingDistinct: QueryDef = {
    import graft.operators.HllMd5
    QueryDef(
      (s, dir) =>
        HllMd5.rollingDistinct(
          Tables.events(s, dir)
            .filter(col("user_id").isNotNull)
            .select(
              datediff(col("ts").cast("date"),
                lit("1970-01-01").cast("date")).as("day"),
              col("user_id").cast("string").as("k")),
          keyCol = "k", dayCol = "day", windowDays = 7)
          .orderBy("day"),
      s"""WITH e AS (
         |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
         |    CAST(user_id AS VARCHAR) AS k
         |  FROM events WHERE user_id IS NOT NULL),
         |h AS (SELECT day, CAST('0x' || substring(md5(k), 1, 15) AS BIGINT) AS h
         |      FROM e),
         |reg AS (
         |  SELECT day, h >> 50 AS reg_idx,
         |    MAX(CASE WHEN (h & ((CAST(1 AS BIGINT) << 50) - 1)) = 0 THEN 51
         |        ELSE 51 - length(bin(h & ((CAST(1 AS BIGINT) << 50) - 1))) END) AS r
         |  FROM h GROUP BY 1, 2),
         |days AS (SELECT DISTINCT day FROM e),
         |idxs AS (SELECT CAST(range AS BIGINT) AS reg_idx FROM range(1024)),
         |spine AS (SELECT d.day, i.reg_idx FROM days d CROSS JOIN idxs i),
         |rolled AS (
         |  SELECT s.day, s.reg_idx,
         |    MAX(r.r) OVER (PARTITION BY s.reg_idx ORDER BY s.day
         |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rmax
         |  FROM spine s LEFT JOIN reg r
         |    ON r.day = s.day AND r.reg_idx = s.reg_idx),
         |est AS (
         |  SELECT day, COUNT(*) AS m_used,
         |    list_sum(list(CAST('1.0' AS DOUBLE) /
         |      CAST(CAST(1 AS BIGINT) << rmax AS DOUBLE) ORDER BY reg_idx))
         |      AS s_present
         |  FROM rolled WHERE rmax IS NOT NULL GROUP BY 1),
         |fin AS (
         |  SELECT day, m_used, 1024 - m_used AS v_zero,
         |    CAST('${HllMd5.AlphaMM}' AS DOUBLE) /
         |      (s_present + CAST(1024 - m_used AS DOUBLE)) AS raw_est
         |  FROM est)
         |SELECT day, m_used, v_zero,
         |  CASE WHEN raw_est <= CAST('${HllMd5.SmallRangeCutoff}' AS DOUBLE)
         |        AND v_zero > 0
         |       THEN CAST('1024.0' AS DOUBLE) *
         |         ln(CAST('1024.0' AS DOUBLE) / CAST(v_zero AS DOUBLE))
         |       ELSE raw_est END AS hll_estimate
         |FROM fin ORDER BY day""".stripMargin)
  }

  /** q231: REAL codec decode through the multimodal seam — synthetic but
    * genuine WAV/PCM (RIFF chunk stream) and binary PPM (P6) containers
    * are built per nation key, then decoded per partition by
    * [[graft.multimodal.Codecs]] parsing the actual byte layouts (RIFF
    * fourcc walk, LE fmt/data fields, netpbm ASCII header). Every output
    * number — layout fields, exact PCM moments, per-channel pixel sums —
    * comes from the PARSED bytes; the oracle replays the synthesis closed
    * form in DuckDB, so any header-offset or endianness bug in the decoder
    * shifts a sum and fails the hash. Stats are exact integer moments
    * (RMS/means derive by one division) — no float fold over samples.
    */
  private val mediaCodecs = QueryDef(
    (s, dir) => {
      import graft.multimodal.{Codecs, MediaRecord, MediaStats}
      val spark = s
      import spark.implicits._
      val keys = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("int")).as[Int]
      val wav = keys.map { k =>
        val n = 400 + (k * 37) % 201
        val samples =
          Array.tabulate(n)(i => (((k * 31 + i * 17) % 2003) - 1001).toShort)
        MediaRecord(k.toLong, "audio", Codecs.wavBytes(8000, samples))
      }
      val img = keys.map { k =>
        val w = 12 + k % 7; val h = 10 + k % 5
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = 3 * (y * w + x)
            rgb(p) = ((k * 7 + x * 3 + y * 5) % 256).toByte
            rgb(p + 1) = ((k * 11 + x * 5 + y * 7) % 256).toByte
            rgb(p + 2) = ((k * 13 + x * 7 + y * 3) % 256).toByte
            x += 1
          }
          y += 1
        }
        MediaRecord(1000L + k, "image", Codecs.ppmBytes(w, h, rgb))
      }
      // per-partition decode of real container bytes — the decodeAll seam
      // shape, with the full-stats row instead of DecodedMedia
      wav.union(img).mapPartitions(_.map { r =>
        if (r.kind == "audio") {
          val wv = Codecs.decodeWav(r.content)
          MediaStats(r.media_id, "wav", None, None,
            Some(wv.channels), Some(wv.sampleRateHz), Some(wv.bitsPerSample),
            Some(wv.nSamples), Some(wv.durationMs),
            Some(wv.sumAmp), Some(wv.sumSq), None, None, None)
        } else {
          val pp = Codecs.decodePpm(r.content)
          MediaStats(r.media_id, "ppm", Some(pp.width), Some(pp.height),
            None, None, None, None, None, None, None,
            Some(pp.sumR), Some(pp.sumG), Some(pp.sumB))
        }
      }).toDF().orderBy("media_id")
    },
    """WITH k AS (SELECT CAST(n_nationkey AS INTEGER) AS k FROM nation),
      |wav AS (SELECT k.k, 400 + (k.k*37) % 201 AS n FROM k),
      |wavagg AS (
      |  SELECT w.k, w.n,
      |    CAST(SUM(((w.k*31 + s.i*17) % 2003) - 1001) AS BIGINT) AS sum_amp,
      |    CAST(SUM((((w.k*31 + s.i*17) % 2003) - 1001)
      |           * (((w.k*31 + s.i*17) % 2003) - 1001)) AS BIGINT) AS sum_sq
      |  FROM wav w, LATERAL (SELECT unnest(range(0, w.n)) AS i) s
      |  GROUP BY 1, 2),
      |img AS (SELECT k.k, 12 + k.k % 7 AS w, 10 + k.k % 5 AS h FROM k),
      |imgagg AS (
      |  SELECT i.k, i.w, i.h,
      |    CAST(SUM((i.k*7 + xs.x*3 + ys.y*5) % 256) AS BIGINT) AS sum_r,
      |    CAST(SUM((i.k*11 + xs.x*5 + ys.y*7) % 256) AS BIGINT) AS sum_g,
      |    CAST(SUM((i.k*13 + xs.x*7 + ys.y*3) % 256) AS BIGINT) AS sum_b
      |  FROM img i,
      |    LATERAL (SELECT unnest(range(0, i.w)) AS x) xs,
      |    LATERAL (SELECT unnest(range(0, i.h)) AS y) ys
      |  GROUP BY 1, 2, 3)
      |SELECT CAST(k AS BIGINT) AS media_id, 'wav' AS fmt,
      |  CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
      |  CAST(1 AS INTEGER) AS channels, CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(16 AS INTEGER) AS bits, CAST(n AS BIGINT) AS n_samples,
      |  CAST(n * 1000 AS DOUBLE) / CAST('8000.0' AS DOUBLE) AS duration_ms,
      |  sum_amp, sum_sq,
      |  CAST(NULL AS BIGINT) AS sum_r, CAST(NULL AS BIGINT) AS sum_g,
      |  CAST(NULL AS BIGINT) AS sum_b
      |FROM wavagg
      |UNION ALL
      |SELECT CAST(1000 + k AS BIGINT), 'ppm', CAST(w AS INTEGER),
      |  CAST(h AS INTEGER), NULL, NULL, NULL, NULL, NULL, NULL, NULL,
      |  sum_r, sum_g, sum_b
      |FROM imgagg
      |ORDER BY media_id""".stripMargin)

  /** q232: perceptual image near-dup (PerceptualHash) — the visual
    * analogue of the SimHash text path (q43). Deterministic synthetic
    * grayscale images (25 bases + 25 copies perturbed by +3 on ~1/7 of
    * pixels) ride as REAL PGM containers, are decoded by the real codec
    * (Codecs.decodePgm), dHashed (9x8 gradient grid → 4 x 16-bit bands),
    * banded into LSH buckets, and candidate pairs are Hamming-verified
    * ≤ 10. The oracle replays the ENTIRE chain in DuckDB from the pixel
    * closed form — cell sums, gradient bits, band packing, bucket join,
    * bit_count Hamming — so the gate checks the hash computation itself,
    * not just literals. Finds exactly the 25 planted near-dup pairs
    * (Hamming ≤ 2); closest cross-image distance is 21.
    */
  private val perceptualDedup = QueryDef(
    (s, dir) => {
      import graft.multimodal.{Codecs, PerceptualHash}
      val spark = s
      import spark.implicits._
      val keys = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("int")).as[Int]
      val W = 36; val H = 32
      val media = keys.flatMap { k =>
        def img(pert: Int): Array[Byte] = {
          val gray = new Array[Byte](W * H)
          var y = 0
          while (y < H) {
            var x = 0
            while (x < W) {
              var v = 16 + ((x * y + k * (x + 2 * y) + k * k * 7) * 37) % 224
              if (pert == 1 && (x + y + k) % 7 == 0) v += 3
              gray(y * W + x) = v.toByte
              x += 1
            }
            y += 1
          }
          Codecs.pgmBytes(W, H, gray)
        }
        Seq((k.toLong, img(0)), (2000L + k, img(1)))
      }
      val hashes = media.map { case (id, bytes) =>
        val (w, h, px) = Codecs.decodePgm(bytes)
        val b = PerceptualHash.dHashBands(px, w, h)
        (id, b(0), b(1), b(2), b(3))
      }.toDF("id", "b0", "b1", "b2", "b3")
      PerceptualHash.nearDupPairs(hashes, "id", maxHamming = 10)
        .orderBy("id_a", "id_b")
    },
    """WITH k AS (SELECT CAST(n_nationkey AS INTEGER) AS k FROM nation),
      |imgs AS (
      |  SELECT CAST(k AS BIGINT) AS id, k AS seed, 0 AS pert FROM k
      |  UNION ALL
      |  SELECT CAST(2000 + k AS BIGINT), k, 1 FROM k),
      |px AS (
      |  SELECT i.id, xs.x, ys.y,
      |    16 + ((xs.x*ys.y + i.seed*(xs.x + 2*ys.y) + i.seed*i.seed*7) * 37)
      |      % 224
      |      + CASE WHEN i.pert = 1 AND (xs.x + ys.y + i.seed) % 7 = 0
      |             THEN 3 ELSE 0 END AS v
      |  FROM imgs i,
      |    LATERAL (SELECT unnest(range(0, 36)) AS x) xs,
      |    LATERAL (SELECT unnest(range(0, 32)) AS y) ys),
      |cells AS (
      |  SELECT id, x // 4 AS cx, y // 4 AS cy, CAST(SUM(v) AS BIGINT) AS s
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.id, a.cy * 8 + a.cx AS bitidx,
      |    CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.id = b.id AND b.cy = a.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |bands AS (
      |  SELECT id, bitidx // 16 AS band_idx,
      |    CAST(SUM(bit << (bitidx % 16)) AS INTEGER) AS band_val
      |  FROM bits GROUP BY 1, 2),
      |hashes AS (
      |  SELECT id,
      |    MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
      |    MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
      |    MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
      |    MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
      |  FROM bands GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.id < b.id)
      |SELECT c.id_a, c.id_b,
      |  CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
      |    AS INTEGER) AS hamming
      |FROM cand c JOIN hashes ha ON ha.id = c.id_a
      |            JOIN hashes hb ON hb.id = c.id_b
      |WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |    + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 10
      |ORDER BY id_a, id_b""".stripMargin)

  /** q252: INCREMENTAL perceptual near-dup — new media shards dedup
    * against the ingested corpus's PERSISTED band index (the q123/q127
    * incremental-text shape applied to q232's dHash bands): at ingest
    * the corpus hashes and a band_key-sorted index are written once; a
    * new batch (near-dup copies of every 3rd base image perturbed +2 on
    * ~1/9 of pixels, plus novel images from a different closed form that
    * match nothing) hashes per-row, probes ONLY the index buckets its
    * own band keys name — pushed as an In filter to the index scan — and
    * Hamming-verifies candidates against the corpus hashes. Cost follows
    * the batch, not the corpus: no corpus shuffle, no batch-all-pairs
    * rehash of ingested media. The oracle replays the ENTIRE chain for
    * both generations in DuckDB — pixel closed forms, cell sums,
    * gradient bits, band packing, batch-vs-corpus bucket join, bit_count
    * Hamming — so a drift anywhere in either generation's hash or in the
    * index probe fails the hash.
    */
  private val incrementalPerceptual = QueryDef(
    (s, dir) => {
      import graft.multimodal.{Codecs, PerceptualHash}
      val spark = s
      import spark.implicits._
      val keys = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("int")).as[Int]
      val W = 36; val H = 32
      val corpus = keys.flatMap { k =>
        def img(pert: Int): Array[Byte] = {
          val gray = new Array[Byte](W * H)
          var y = 0
          while (y < H) {
            var x = 0
            while (x < W) {
              var v = 16 + ((x * y + k * (x + 2 * y) + k * k * 7) * 37) % 224
              if (pert == 1 && (x + y + k) % 7 == 0) v += 3
              gray(y * W + x) = v.toByte
              x += 1
            }
            y += 1
          }
          Codecs.pgmBytes(W, H, gray)
        }
        Seq((k.toLong, img(0)), (2000L + k, img(1)))
      }
      val batch = keys.flatMap { k =>
        def near(): Array[Byte] = { // base formula, pert-2 perturbation
          val gray = new Array[Byte](W * H)
          var y = 0
          while (y < H) {
            var x = 0
            while (x < W) {
              var v = 16 + ((x * y + k * (x + 2 * y) + k * k * 7) * 37) % 224
              if ((x + 2 * y + k) % 9 == 0) v += 2
              gray(y * W + x) = v.toByte
              x += 1
            }
            y += 1
          }
          Codecs.pgmBytes(W, H, gray)
        }
        def novel(): Array[Byte] = { // unrelated closed form: no match
          val gray = new Array[Byte](W * H)
          var y = 0
          while (y < H) {
            var x = 0
            while (x < W) {
              gray(y * W + x) =
                (16 + ((x * x + 3 * y + k * (x + y) + 11 * k) * 53) % 224).toByte
              x += 1
            }
            y += 1
          }
          Codecs.pgmBytes(W, H, gray)
        }
        (if (k % 3 == 0) Seq((4000L + k, near())) else Seq.empty) :+
          ((5000L + k, novel()))
      }
      def hash(media: org.apache.spark.sql.Dataset[(Long, Array[Byte])]) =
        media.map { case (id, bytes) =>
          val (w, h, px) = Codecs.decodePgm(bytes)
          val b = PerceptualHash.dHashBands(px, w, h)
          (id, b(0), b(1), b(2), b(3))
        }.toDF("id", "b0", "b1", "b2", "b3")
      val hashPath = graft.core.Housekeeping.scratchDir(s, "ipd_hashes")
      val idxPath = graft.core.Housekeeping.scratchDir(s, "ipd_index")
      // ingest once: corpus hashes + band index sorted by band_key (range
      // partition + in-file sort = row-group stats prune the probe scan)
      val cH = hash(corpus)
      cH.write.mode("overwrite").parquet(hashPath)
      PerceptualHash.bandKeys(cH, "id")
        .repartitionByRange(col("band_key"))
        .sortWithinPartitions("band_key")
        .write.mode("overwrite").parquet(idxPath)
      PerceptualHash.incrementalNearDupPairs(
          s.read.parquet(idxPath), s.read.parquet(hashPath),
          hash(batch), "id", maxHamming = 10)
        .orderBy("id_new", "id_corpus")
    },
    """WITH k AS (SELECT CAST(n_nationkey AS INTEGER) AS k FROM nation),
      |imgs AS (
      |  SELECT CAST(k AS BIGINT) AS id, k AS seed, 0 AS pert, 0 AS kind FROM k
      |  UNION ALL
      |  SELECT CAST(2000 + k AS BIGINT), k, 1, 0 FROM k
      |  UNION ALL
      |  SELECT CAST(4000 + k AS BIGINT), k, 2, 0 FROM k WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT CAST(5000 + k AS BIGINT), k, 0, 1 FROM k),
      |px AS (
      |  SELECT i.id, xs.x, ys.y,
      |    CASE WHEN i.kind = 1
      |      THEN 16 + ((xs.x*xs.x + 3*ys.y + i.seed*(xs.x + ys.y)
      |                  + 11*i.seed) * 53) % 224
      |      ELSE 16 + ((xs.x*ys.y + i.seed*(xs.x + 2*ys.y)
      |                  + i.seed*i.seed*7) * 37) % 224
      |        + CASE WHEN i.pert = 1 AND (xs.x + ys.y + i.seed) % 7 = 0 THEN 3
      |               WHEN i.pert = 2 AND (xs.x + 2*ys.y + i.seed) % 9 = 0 THEN 2
      |               ELSE 0 END
      |    END AS v
      |  FROM imgs i,
      |    LATERAL (SELECT unnest(range(0, 36)) AS x) xs,
      |    LATERAL (SELECT unnest(range(0, 32)) AS y) ys),
      |cells AS (
      |  SELECT id, x // 4 AS cx, y // 4 AS cy, CAST(SUM(v) AS BIGINT) AS s
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.id, a.cy * 8 + a.cx AS bitidx,
      |    CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.id = b.id AND b.cy = a.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |bands AS (
      |  SELECT id, bitidx // 16 AS band_idx,
      |    CAST(SUM(bit << (bitidx % 16)) AS INTEGER) AS band_val
      |  FROM bits GROUP BY 1, 2),
      |hashes AS (
      |  SELECT id,
      |    MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
      |    MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
      |    MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
      |    MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
      |  FROM bands GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT n.id AS id_new, c.id AS id_corpus
      |  FROM bands c JOIN bands n
      |    ON c.band_idx = n.band_idx AND c.band_val = n.band_val
      |  WHERE c.id < 4000 AND n.id >= 4000)
      |SELECT p.id_new, p.id_corpus,
      |  CAST(bit_count(xor(hn.b0, hc.b0)) + bit_count(xor(hn.b1, hc.b1))
      |     + bit_count(xor(hn.b2, hc.b2)) + bit_count(xor(hn.b3, hc.b3))
      |    AS INTEGER) AS hamming
      |FROM cand p JOIN hashes hn ON hn.id = p.id_new
      |            JOIN hashes hc ON hc.id = p.id_corpus
      |WHERE bit_count(xor(hn.b0, hc.b0)) + bit_count(xor(hn.b1, hc.b1))
      |    + bit_count(xor(hn.b2, hc.b2)) + bit_count(xor(hn.b3, hc.b3)) <= 10
      |ORDER BY id_new, id_corpus""".stripMargin)

  /** q241: VIDEO near-dup via per-frame perceptual hashes — the
    * shot-level dedup that closes the multimodal family (bytes → image
    * q232 → audio q235 → video): each video is its SET of frame dHashes,
    * candidates come from an inverted frame-hash index (equi-join — a
    * video pair is considered only if some frame hash collides), and
    * near-dups are set-Jaccard ≥ 0.6 over frame hashes. The planted
    * copies share 6 of 7 frames BRIGHTNESS-SHIFTED by +10 on every
    * pixel: the raw bytes differ (byte-exact dedup finds nothing), but
    * dHash's cross-multiplied gradient compare is EXACTLY invariant
    * under a uniform shift, so the shared frames hash identically —
    * the property that makes perceptual frame dedup strictly stronger
    * than content-hash dedup. The oracle replays pixels → cell sums →
    * gradient bits → band packing → frame keys → inverted-index join →
    * set Jaccard entirely in SQL; finds exactly the 25 planted pairs at
    * J = 6/8 = 0.75, zero cross-video frame collisions.
    */
  private val videoNearDup = QueryDef(
    (s, dir) => {
      import graft.multimodal.{Codecs, PerceptualHash}
      val spark = s
      import spark.implicits._
      val keys = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("int")).as[Int]
      val W = 36; val H = 32
      def baseFrame(k: Int, f: Int, shift: Int): Array[Byte] =
        Array.tabulate(W * H) { i =>
          val x = i % W; val y = i / W
          (16 + ((x * y + k * (x + 2 * y) + f * (3 * x + y) + k * k * 7) * 37) % 224
            + shift).toByte
        }
      def newFrame(k: Int): Array[Byte] =
        Array.tabulate(W * H) { i =>
          val x = i % W; val y = i / W
          (16 + ((x + y * 3 + k * 5 + 11) * 53) % 224).toByte
        }
      val frames = keys.flatMap { k =>
        val base = (0 until 7).map(f =>
          (k.toLong, Codecs.pgmBytes(W, H, baseFrame(k, f, 0))))
        val copy = (1 until 7).map(f =>
          (2000L + k, Codecs.pgmBytes(W, H, baseFrame(k, f, 10)))) :+
          ((2000L + k, Codecs.pgmBytes(W, H, newFrame(k))))
        base ++ copy
      }
      val hashes = frames.map { case (vid, bytes) =>
        val (w, h, px) = Codecs.decodePgm(bytes)
        val b = PerceptualHash.dHashBands(px, w, h)
        (vid, s"${b(0)}_${b(1)}_${b(2)}_${b(3)}")
      }.toDF("video_id", "frame_key").distinct()
      val sets = hashes.groupBy("video_id")
        .agg(sort_array(collect_set(col("frame_key"))).as("fs"),
          count(lit(1)).as("sz"))
      val cand = hashes.toDF("id_a", "frame_key").hint("shuffle_hash")
        .join(hashes.toDF("id_b", "frame_key").hint("shuffle_hash"),
          Seq("frame_key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      cand
        .join(sets.select(col("video_id").as("id_a"), col("fs").as("fs_a"),
          col("sz").as("sz_a")).hint("shuffle_hash"), "id_a")
        .join(sets.select(col("video_id").as("id_b"), col("fs").as("fs_b"),
          col("sz").as("sz_b")).hint("shuffle_hash"), "id_b")
        .withColumn("inter",
          size(array_intersect(col("fs_a"), col("fs_b"))).cast("long"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jaccard") >= 0.6)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
        .orderBy("id_a", "id_b")
    },
    """WITH k AS (SELECT CAST(n_nationkey AS INTEGER) AS k FROM nation),
      |fr AS (
      |  SELECT CAST(k AS BIGINT) AS vid, k AS seed, f.f AS f,
      |    0 AS shift, 0 AS isnew
      |  FROM k, LATERAL (SELECT unnest(range(0, 7)) AS f) f
      |  UNION ALL
      |  SELECT CAST(2000 + k AS BIGINT), k, f.f, 10, 0
      |  FROM k, LATERAL (SELECT unnest(range(1, 7)) AS f) f
      |  UNION ALL
      |  SELECT CAST(2000 + k AS BIGINT), k, 99, 0, 1 FROM k),
      |px AS (
      |  SELECT fr.vid, fr.f, xs.x, ys.y,
      |    CASE WHEN fr.isnew = 1
      |      THEN 16 + ((xs.x + ys.y*3 + fr.seed*5 + 11) * 53) % 224
      |      ELSE 16 + ((xs.x*ys.y + fr.seed*(xs.x + 2*ys.y)
      |           + fr.f*(3*xs.x + ys.y) + fr.seed*fr.seed*7) * 37) % 224
      |           + fr.shift END AS v
      |  FROM fr, LATERAL (SELECT unnest(range(0, 36)) AS x) xs,
      |           LATERAL (SELECT unnest(range(0, 32)) AS y) ys),
      |cells AS (
      |  SELECT vid, f, x // 4 AS cx, y // 4 AS cy, CAST(SUM(v) AS BIGINT) AS s
      |  FROM px GROUP BY 1, 2, 3, 4),
      |bits AS (
      |  SELECT a.vid, a.f, a.cy * 8 + a.cx AS bitidx,
      |    CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.vid = b.vid AND a.f = b.f AND b.cy = a.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |bands AS (
      |  SELECT vid, f, bitidx // 16 AS band_idx,
      |    CAST(SUM(bit << (bitidx % 16)) AS INTEGER) AS bv
      |  FROM bits GROUP BY 1, 2, 3),
      |fkeys AS (
      |  SELECT DISTINCT vid, CONCAT_WS('_',
      |    MAX(CASE WHEN band_idx = 0 THEN bv END),
      |    MAX(CASE WHEN band_idx = 1 THEN bv END),
      |    MAX(CASE WHEN band_idx = 2 THEN bv END),
      |    MAX(CASE WHEN band_idx = 3 THEN bv END)) AS fk
      |  FROM bands GROUP BY vid, f),
      |sz AS (SELECT vid, COUNT(*) AS n FROM fkeys GROUP BY 1),
      |inter AS (
      |  SELECT a.vid AS ia, b.vid AS ib, COUNT(*) AS c
      |  FROM fkeys a JOIN fkeys b ON a.fk = b.fk AND a.vid < b.vid
      |  GROUP BY 1, 2)
      |SELECT ia AS id_a, ib AS id_b, c AS inter, x.n AS sz_a, y.n AS sz_b,
      |  CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
      |FROM inter JOIN sz x ON ia = x.vid JOIN sz y ON ib = y.vid
      |WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= CAST('0.6' AS DOUBLE)
      |ORDER BY id_a, id_b""".stripMargin)

  /** q236: oracle-exact count-min frequency sketch (CmsMd5) — the
    * frequency leg of the md5-parity sketch trio (HLL q223 cardinality,
    * KMV q224 overlap). Per event type, ONE map-side-combining
    * `cms_md5_agg` pass (EventStreams.freqSketchCms, the call
    * EventStreamsSpec also runs on a stream) builds the 4×512 counter
    * matrix; the gate then
    * probes the 5 exact-top users of each type against the sketch with
    * the codegen affine arithmetic (CmsMd5.estimateCol — no UDF) and
    * reports estimate, exact, and overestimate. DuckDB replays EVERY
    * probed counter from the raw keys (md5-60 base hash, the fixed
    * affine row maps, integer bucket sums), so this hash-checks the
    * sketch arithmetic itself — overestimates included — not just an
    * error bound. CMS never underestimates; the overestimate column is
    * the per-probe collision mass, nonzero at gate scale by design
    * (width 512 ≪ distinct users).
    */
  private val cmsFrequency: QueryDef = {
    val width = 512
    QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.operators.CmsMd5
        val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
          .select(col("event_type"), col("user_id").cast("string").as("uid"))
        val sk = EventStreams.freqSketchCms(ev, "event_type", "uid", width)
          .select("event_type", "counters")
        val exact = ev.groupBy("event_type", "uid")
          .agg(count(lit(1)).as("n_exact"))
        val top = exact.withColumn("rk", row_number().over(
          Window.partitionBy("event_type")
            .orderBy(col("n_exact").desc, col("uid"))))
          .filter(col("rk") <= 5).drop("rk")
        top.join(broadcast(sk), "event_type")
          .withColumn("n_est",
            CmsMd5.estimateCol(col("counters"), col("uid"), width))
          .select(col("event_type"), col("uid"), col("n_exact"),
            col("n_est"), (col("n_est") - col("n_exact")).as("overestimate"))
          .orderBy("event_type", "uid")
      },
      s"""WITH ev AS (
         |  SELECT event_type, CAST(user_id AS VARCHAR) AS uid
         |  FROM events WHERE user_id IS NOT NULL),
         |h AS (
         |  SELECT event_type, uid,
         |    CAST('0x' || substring(md5(uid), 1, 15) AS BIGINT) AS h60
         |  FROM ev),
         |prm AS (SELECT * FROM (VALUES
         |  (0, 1103, 7919), (1, 12289, 104729),
         |  (2, 52379, 130363), (3, 94321, 55987)) AS t(di, a, b)),
         |cnt AS (
         |  SELECT event_type, p.di,
         |    ((p.a * (h.h60 % 2147483647) + p.b) % 2147483647) % $width
         |      AS bucket,
         |    COUNT(*) AS c
         |  FROM h, prm p GROUP BY 1, 2, 3),
         |exact AS (
         |  SELECT event_type, uid, COUNT(*) AS n_exact FROM ev GROUP BY 1, 2),
         |top AS (
         |  SELECT event_type, uid, n_exact FROM (
         |    SELECT event_type, uid, n_exact, ROW_NUMBER() OVER (
         |      PARTITION BY event_type ORDER BY n_exact DESC, uid) AS rk
         |    FROM exact) WHERE rk <= 5),
         |probe AS (
         |  SELECT t.event_type, t.uid, t.n_exact, p.di,
         |    ((p.a * (CAST('0x' || substring(md5(t.uid), 1, 15) AS BIGINT)
         |        % 2147483647) + p.b) % 2147483647) % $width AS bucket
         |  FROM top t, prm p)
         |SELECT pr.event_type, pr.uid, pr.n_exact,
         |  MIN(c.c) AS n_est, MIN(c.c) - pr.n_exact AS overestimate
         |FROM probe pr JOIN cnt c
         |  ON c.event_type = pr.event_type AND c.di = pr.di
         | AND c.bucket = pr.bucket
         |GROUP BY 1, 2, 3
         |ORDER BY pr.event_type, pr.uid""".stripMargin)
  }

  /** q235: perceptual AUDIO near-dup (AudioFingerprint) — the acoustic
    * leg of the media dedup trio, mirroring q232's structure over real
    * RIFF/WAVE containers: 25 deterministic amplitude-modulated base
    * clips + 25 copies perturbed by short +45 bursts (~3.5% of samples)
    * are encoded by Codecs.wavBytes, decoded back by the real chunk
    * walker (decodeWavSamples), fingerprinted by sign-of-frame-energy
    * differences (Haitsma-Kalker shape, 64 bits → 4 x 16-bit bands), and
    * paired through the SAME banded-LSH + Hamming-verify machinery as
    * images. The oracle replays the ENTIRE chain from the sample closed
    * form — frame energies, cross-multiplied sign bits, band packing,
    * bucket join, bit_count — so a decoder offset bug or an energy-fold
    * error shifts a band value and fails the hash. Finds exactly the 25
    * planted pairs (Hamming ≤ 4); closest cross-clip distance is 16.
    */
  private val audioNearDup = QueryDef(
    (s, dir) => {
      import graft.multimodal.{AudioFingerprint, Codecs, PerceptualHash}
      val spark = s
      import spark.implicits._
      val keys = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("int")).as[Int]
      val media = keys.flatMap { k =>
        val n = 1600 + 13 * k
        def clipBytes(pert: Int): Array[Byte] = {
          val samples = Array.tabulate(n) { i =>
            val carrier = ((i * (7 + k % 5) + k) % 127) - 63
            val env = 1 + 3 * ((i / 50 * (k + 3) + 2 * k) % 9)
            var v = carrier * env
            if (pert == 1 && (i + 29 * k) % 173 < 6) v += 45
            v.toShort
          }
          Codecs.wavBytes(8000, samples)
        }
        Seq((k.toLong, clipBytes(0)), (2000L + k, clipBytes(1)))
      }
      val hashes = media.map { case (id, bytes) =>
        val (_, samples) = Codecs.decodeWavSamples(bytes)
        val b = AudioFingerprint.energyDiffBands(samples)
        (id, b(0), b(1), b(2), b(3))
      }.toDF("id", "b0", "b1", "b2", "b3")
      PerceptualHash.nearDupPairs(hashes, "id", maxHamming = 4)
        .orderBy("id_a", "id_b")
    },
    """WITH k AS (SELECT CAST(n_nationkey AS INTEGER) AS k FROM nation),
      |clips AS (
      |  SELECT CAST(k AS BIGINT) AS id, k AS seed, 0 AS pert,
      |    1600 + 13*k AS n FROM k
      |  UNION ALL
      |  SELECT CAST(2000 + k AS BIGINT), k, 1, 1600 + 13*k FROM k),
      |smp AS (
      |  SELECT c.id, s.i, c.n,
      |    (((s.i*(7 + c.seed % 5) + c.seed) % 127) - 63)
      |      * (1 + 3*((s.i // 50 * (c.seed + 3) + 2*c.seed) % 9))
      |    + CASE WHEN c.pert = 1 AND (s.i + 29*c.seed) % 173 < 6
      |           THEN 45 ELSE 0 END AS v
      |  FROM clips c, LATERAL (SELECT unnest(range(0, c.n)) AS i) s),
      |fr AS (SELECT unnest(range(0, 65)) AS f),
      |fe AS (
      |  SELECT s.id, fr.f, CAST(SUM(s.v * s.v) AS BIGINT) AS e,
      |    COUNT(*) AS cnt
      |  FROM smp s JOIN fr
      |    ON s.i >= fr.f * s.n // 65 AND s.i < (fr.f + 1) * s.n // 65
      |  GROUP BY 1, 2),
      |bits AS (
      |  SELECT a.id, a.f AS bitidx,
      |    CASE WHEN b.e * a.cnt > a.e * b.cnt THEN 1 ELSE 0 END AS bit
      |  FROM fe a JOIN fe b ON a.id = b.id AND b.f = a.f + 1
      |  WHERE a.f < 64),
      |bands AS (
      |  SELECT id, bitidx // 16 AS band_idx,
      |    CAST(SUM(bit << (bitidx % 16)) AS INTEGER) AS band_val
      |  FROM bits GROUP BY 1, 2),
      |hashes AS (
      |  SELECT id,
      |    MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
      |    MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
      |    MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
      |    MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
      |  FROM bands GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.id < b.id)
      |SELECT c.id_a, c.id_b,
      |  CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
      |    AS INTEGER) AS hamming
      |FROM cand c JOIN hashes ha ON ha.id = c.id_a
      |            JOIN hashes hb ON hb.id = c.id_b
      |WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |    + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 4
      |ORDER BY id_a, id_b""".stripMargin)

  /** q233: streaming KMV bottom-k distinct per event type —
    * EventStreams.distinctCountsKmv on the batch frame; EventStreamsSpec
    * runs the same call on a file stream and pins its last emission per
    * group bit-equal to this across a checkpoint restart. Where q225's
    * HLL state only estimates cardinality, the KMV state stays a valid
    * sketch for union/Jaccard math (q224). The oracle replays the
    * k-smallest selection and the (k-1)/tau estimate exactly as q224
    * does.
    */
  private val streamKmv: QueryDef = {
    import graft.operators.KmvSketch
    // k = 64 < the ~150 distinct users/type at the gate's sf0.01, so the
    // driver exercises the saturated (k-1)/tau estimator, not the exact
    // small-set branch
    val k = 64
    val kC = (k - 1).toDouble * KmvSketch.HashSpace
    QueryDef(
      (s, dir) =>
        EventStreams.distinctCountsKmv(
          Tables.events(s, dir).filter(col("user_id").isNotNull),
          "event_type", "user_id", k)
          .orderBy("event_type"),
      s"""WITH dh AS (
         |  SELECT DISTINCT event_type,
         |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |      AS BIGINT) AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |sk AS (
         |  SELECT event_type, h FROM (
         |    SELECT event_type, h,
         |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |    FROM dh)
         |  WHERE rk <= $k)
         |SELECT event_type, COUNT(*) AS n_mins,
         |  CASE WHEN COUNT(*) < $k THEN CAST(COUNT(*) AS DOUBLE)
         |       ELSE CAST('$kC' AS DOUBLE) / CAST(MAX(h) AS DOUBLE)
         |       END AS kmv_estimate
         |FROM sk GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** q243: continuous IVM — the q238 delta rule folded through FOUR
    * sequential micro-batch chunks (IvmStream.foldRefresh, chunks =
    * o_orderkey % 4), the same step the streaming maintainAggStream runs
    * over each foreachBatch batch. Refresh COMPOSES:
    * state after chunk 4 must equal a one-shot refresh, must equal a
    * from-scratch recompute — the oracle checks the last leg in DuckDB
    * while the plan only ever touches base state + chunk deltas.
    * IvmStreamSpec pins the first leg on the real stream (file source,
    * versioned state, checkpoint restart mid-delta).
    */
  private val streamIvm = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      import graft.streaming.IvmStream
      val o = Tables.orders(s, dir)
      val groups = Seq("o_orderpriority")
      val sums = Seq("sum_price" -> "o_totalprice")
      val base = IncrementalAgg.state(o, groups, sums)
      val repOld = o.filter(col("o_orderkey") % 83 === 0 &&
          col("o_orderkey") % 89 =!= 0)
        .withColumn("op", lit("delete"))
      val delta = o.filter(col("o_orderkey") % 89 === 0)
        .withColumn("op", lit("delete"))
        .unionByName(repOld)
        .unionByName(repOld.withColumn("op", lit("insert"))
          .withColumn("o_totalprice", col("o_totalprice") + 250.0))
        .unionByName(o.filter(col("o_orderkey") % 79 === 0)
          .withColumn("op", lit("insert")))
        .select(col("op"), col("o_orderpriority"), col("o_totalprice"),
          col("o_orderkey"))
      val chunks = (0 until 4).map(i =>
        delta.filter(col("o_orderkey") % 4 === i))
      IvmStream.foldRefresh(base, chunks, "op", groups, sums)
        .select(col("o_orderpriority"), col("n").as("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    """WITH survivors AS (
      |  SELECT o_orderpriority,
      |    CASE WHEN o_orderkey % 83 = 0 THEN o_totalprice + 250.0
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 89 <> 0
      |  UNION ALL
      |  SELECT o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 79 = 0)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM survivors GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)

  /** q244: continuously maintained JOIN view — three two-sided CDC
    * chunks (customers re-segmenting AND orders deleting/repricing/
    * arriving, chunked by key % 3) folded through
    * IvmStream.foldJoinRefresh, the step maintainJoinAggStream runs per
    * batch: each chunk's ΔV comes from the three-term signed rule against
    * the relations AS OF the previous chunk, kept as signed multisets
    * (base +1 ∪ applied deltas ±1 — the log-structured form
    * maintainJoinAggStream persists; no snapshot is ever rewritten). The
    * oracle recomputes the final join-aggregate from scratch, so hash
    * equality proves chunked two-sided maintenance
    * converges to truth regardless of how history was sliced —
    * IvmStreamSpec pins the same fold against the real multi-table CDC
    * stream across a checkpoint restart.
    */
  private val streamJoinIvm = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      import graft.operators.IncrementalJoin.positive
      import graft.streaming.IvmStream
      val groups = Seq("seg", "o_orderstatus")
      val sums = Seq("sum_price" -> "o_totalprice")
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").as("k"), col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      val moved = c.filter(col("k") % 47 === 0)
      val cDelta = moved.withColumn("op", lit("delete"))
        .unionByName(moved.withColumn("seg", lit("MOVED"))
          .withColumn("op", lit("insert")))
      val repOld = o.filter(col("o_orderkey") % 107 === 0 &&
          col("o_orderkey") % 109 =!= 0)
        .withColumn("op", lit("delete"))
      val oDelta = o.filter(col("o_orderkey") % 109 === 0)
        .withColumn("op", lit("delete"))
        .unionByName(repOld)
        .unionByName(repOld.withColumn("op", lit("insert"))
          .withColumn("o_totalprice", col("o_totalprice") + 125.0))
        .unionByName(o.filter(col("o_orderkey") % 113 === 0)
          .withColumn("op", lit("insert")))
      val chunks = (0 until 3).map(i => (
        cDelta.filter(col("k") % 3 === i)
          .select("op", "k", "seg"),
        oDelta.filter(col("o_orderkey") % 3 === i)
          .select("op", "k", "o_orderstatus", "o_totalprice")))
      val oBase = o.drop("o_orderkey")
      IvmStream.foldJoinRefresh(positive(c), positive(oBase),
          IncrementalAgg.state(c.join(oBase, Seq("k")), groups, sums),
          chunks, "op", Seq("k"), groups, sums)
        .select(col("seg"), col("o_orderstatus"), col("n").as("n_rows"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("seg", "o_orderstatus")
    },
    """WITH c2 AS (
      |  SELECT c_custkey AS k,
      |    CASE WHEN c_custkey % 47 = 0 THEN 'MOVED'
      |         ELSE c_mktsegment END AS seg
      |  FROM customer),
      |o2 AS (
      |  SELECT o_custkey AS k, o_orderstatus,
      |    CASE WHEN o_orderkey % 107 = 0 THEN o_totalprice + 125.0
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 109 <> 0
      |  UNION ALL
      |  SELECT o_custkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 113 = 0)
      |SELECT seg, o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM o2 JOIN c2 USING (k)
      |GROUP BY 1, 2 ORDER BY seg, o_orderstatus""".stripMargin)

  /** q246: signed-log compaction (IvmStream.compactSigned) — the step
    * that bounds a maintained view's log growth: base(+1) ∪ CDC log(±1)
    * collapses to net multiplicities, rows with net > 0 replicated net
    * times, so (base', empty log) denotes the SAME multiset and
    * maintenance continues unchanged. The gate compacts orders under
    * the q243 delta (deletes cancel bit-identical base rows, a reprice
    * nets −old +new, a duplicate insert nets 2 and must appear TWICE)
    * and aggregates the compacted relation per priority with a
    * key-checksum that counts multiplicity — DuckDB recomputes the
    * survivor multiset from scratch.
    */
  private val logCompaction = QueryDef(
    (s, dir) => {
      import graft.core.OracleArith
      import graft.operators.IncrementalJoin.{positive, signed}
      import graft.streaming.IvmStream
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val repOld = o.filter(col("o_orderkey") % 83 === 0 &&
          col("o_orderkey") % 89 =!= 0)
        .withColumn("op", lit("delete"))
      val log = o.filter(col("o_orderkey") % 89 === 0)
        .withColumn("op", lit("delete"))
        .unionByName(repOld)
        .unionByName(repOld.withColumn("op", lit("insert"))
          .withColumn("o_totalprice", col("o_totalprice") + 250.0))
        .unionByName(o.filter(col("o_orderkey") % 79 === 0)
          .withColumn("op", lit("insert")))
      IvmStream.compactSigned(
          positive(o).unionByName(signed(log, "op")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(OracleArith.dec2(col("o_totalprice")))
            .cast("double").as("sum_price"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
        .orderBy("o_orderpriority")
    },
    """WITH survivors AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 83 = 0 THEN o_totalprice + 250.0
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 89 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 79 = 0)
      |SELECT o_orderpriority, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM survivors GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q246_log_compaction" -> logCompaction,
    "q244_stream_join_ivm" -> streamJoinIvm,
    "q243_stream_ivm" -> streamIvm,
    "q241_video_near_dup" -> videoNearDup,
    "q236_cms_frequency" -> cmsFrequency,
    "q235_audio_near_dup" -> audioNearDup,
    "q233_stream_kmv" -> streamKmv,
    "q232_perceptual_dedup" -> perceptualDedup,
    "q252_incremental_perceptual" -> incrementalPerceptual,
    "q231_media_codecs" -> mediaCodecs,
    "q225_stream_distinct" -> streamDistinct,
    "q230_rolling_distinct" -> rollingDistinct,
    "q197_sft_masks" -> sftMasks,
    "q195_conversations" -> conversations,
    "q192_freshness" -> freshness,
    "q188_late_events" -> lateEvents,
    "q102_stream_enrich" -> streamEnrich,
    "q55_sessions" -> sessions,
    "q56_sliding_windows" -> slidingWindows,
    "q57_purchase_view_join" -> purchaseViewJoin,
    "q60_binary_meta" -> binaryMeta,
    "q61_decoded_media" -> decodedMedia,
    "q186_frame_sampling" -> frameSampling,
    "q215_audio_chunks" -> audioChunks,
    "q216_tile_grid" -> tileGridGate)
}
