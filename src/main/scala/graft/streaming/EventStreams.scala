package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream (north-star
  * extension; the reference is batch-only — its freshness/append semantics
  * map onto watermarks + dropDuplicatesWithinWatermark, SURVEY §2.8).
  *
  * Every transform here is a plain DataFrame→DataFrame function, so the same
  * logic runs in batch (driver correctness gate) and under `readStream`
  * (tested with file source + memory sink). State size is bounded by
  * watermarks everywhere — unbounded state is the streaming equivalent of an
  * unpartitioned shuffle at 100 TB.
  */
object EventStreams {

  /** File-source stream over a *directory* of event parquet files (the file
    * source tails directories — new files are new micro-batches), with the
    * same nanos→micros ts handling as graft.core.Tables.events.
    */
  def readEvents(spark: SparkSession, eventsDir: String): DataFrame = {
    graft.core.Tables.readNanosAsLong(spark)
    // a streaming source needs its schema up front: probe the directory with
    // a one-off batch read (metadata only, no data scan), then normalize ts
    // exactly like the batch loader (nanos-long vs micros-NTZ generations).
    // A stream routinely starts on a still-EMPTY landing directory (files
    // arrive later) — the probe then has nothing to infer from, so fall
    // back to the DECLARED current-generation schema (graft.core.Tables —
    // one source of truth; a legacy nanos-generation producer landing into
    // a dir that was empty at start is unsupported, it needs one probe
    // file). A MISSING directory stays a loud failure: swallowing it would
    // turn a typo'd path into a silently forever-empty stream
    val fileSchema =
      try spark.read.parquet(eventsDir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          val p = new org.apache.hadoop.fs.Path(eventsDir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(p)) throw e
          graft.core.Tables.eventsDeclaredSchema
      }
    graft.core.Tables.normalizeEventTs(
      spark.readStream.schema(fileSchema).parquet(eventsDir))
  }

  /** Tumbling-window counts/sums per event type; late data bounded by the
    * watermark (append-mode compatible).
    */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window rates (1h window, 15m slide). */
  def slidingRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming dedup on event_id with watermark-bounded state — the
    * streaming twin of the reference's ingest dedup (D1).
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap sessionization: per user, events at most `gapMs` apart (the
    * gap itself included) form one session, reported as (user_id,
    * session_start, session_end, n_events) with the first and last event
    * time. One planned operator, Spark's `session_window`, so the same
    * call runs on a batch or a streaming frame.
    *
    * On a stream, state is one aggregation buffer per open session per
    * user, bounded by the 30 minute watermark. In append mode a session
    * is emitted once, when the watermark passes its last event plus the
    * gap: late events within the watermark still merge into it (and can
    * bridge two sessions), and no session is emitted before it is final.
    * On a batch frame `withWatermark` does nothing and every session is
    * final. A row whose `ts` is NULL belongs to no session and is dropped.
    */
  def sessionize(events: DataFrame, gapMs: Long): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMs milliseconds"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("session_window")

  /** Watermarked stream-stream join: purchases joined to the same user's
    * views within `withinMs` BEFORE the purchase. Both sides watermarked so
    * state stays bounded: Spark drops view state older than the watermark
    * plus the interval bound.
    */
  def purchaseViewJoin(events: DataFrame, withinMs: Long): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "30 minutes")
    purchases.join(views,
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $withinMs MILLISECOND"))
      .select("user_id", "purchase_id", "purchase_ts", "view_id", "view_ts")
  }

  /** Stream-static enrichment: join the event stream to a dimension table
    * (broadcast — the static side is re-planned per micro-batch, and a
    * broadcast keeps every batch a map-only stage; a shuffled stream-static
    * join would re-shuffle each micro-batch). Left join: events without a
    * dimension row survive with nulls, the usual contract for late-arriving
    * dimensions. Stateless — needs no watermark.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Streaming TEMPORAL enrichment — the streaming twin of the native
    * batch as-of join ([[graft.operators.AsOfJoin.joinAsOf]],
    * backward): the dimension is not a static table but a STREAM of
    * versioned updates (a CDC changelog), and every event enriches with
    * the latest version at-or-before its event time.
    *
    * Contract: `events` carries (key string, event_id long, ts long ≥ 0);
    * `dimUpdates` carries (key string, version_ts long ≥ 0, payload
    * string), per-key in non-decreasing version_ts order — the changelog
    * contract (a CDC stream is per-key ordered by construction). Events
    * may arrive in ANY order relative to each other and to versions.
    *
    * Semantics: each event is emitted on arrival with its current best
    * match (null-extended when none), and RE-emitted whenever a
    * later-arriving version changes its match — downstream
    * last-write-wins per event_id therefore converges to exactly the
    * batch as-of over the full data, which is what the spec pins across
    * a checkpoint restart. An event becomes FINAL once its key's version
    * high-water mark passes its timestamp (under the changelog contract
    * no future version can match it) and leaves the state — pending
    * state is bounded by how far events run ahead of their dimension,
    * not by stream length. Version history is retained per key; a
    * production deployment bounds it with the event-lateness watermark
    * (versions older than the bound compact to their last
    * representative), the same retention rule stream-stream joins apply.
    */
  def asOfEnrichStream(events: DataFrame, dimUpdates: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val evTagged = events.select(
      col("key").cast("string").as("k"), lit(true).as("is_event"),
      col("event_id").cast("long").as("event_id"),
      col("ts").cast("long").as("ev_ts"),
      lit(0L).as("v_ts"), lit(null).cast("string").as("payload"))
    val dimTagged = dimUpdates.select(
      col("key").cast("string").as("k"), lit(false).as("is_event"),
      lit(0L).as("event_id"), lit(0L).as("ev_ts"),
      col("version_ts").cast("long").as("v_ts"),
      col("payload").cast("string").as("payload"))
    // state: (sorted version history (ts, payload), pending events
    // (event_id, ts, last-emitted match; MinValue = never emitted,
    // -1 = emitted unmatched))
    evTagged.unionByName(dimTagged)
      .as[(String, Boolean, Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (Seq[(Long, String)], Seq[(Long, Long, Long)]),
        (String, Long, Long, Option[Long], Option[String])](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[(String, Boolean, Long, Long, Long, String)],
            state: GroupState[(Seq[(Long, String)], Seq[(Long, Long, Long)])]) =>
          val (oldVersions, oldPending) =
            state.getOption.getOrElse((Seq.empty[(Long, String)], Seq.empty[(Long, Long, Long)]))
          val batch = rows.toSeq
          val versions = (oldVersions ++ batch.collect {
            case (_, false, _, _, vts, p) => (vts, p)
          }).sortBy(_._1) // stable: same-ts re-delivery keeps last arrival
          val hwm = versions.lastOption.map(_._1).getOrElse(Long.MinValue)
          val pending = oldPending ++ batch.collect {
            case (_, true, id, ts, _, _) => (id, ts, Long.MinValue)
          }
          val out = Seq.newBuilder[(String, Long, Long, Option[Long], Option[String])]
          val keep = Seq.newBuilder[(Long, Long, Long)]
          pending.foreach { case (id, ts, prev) =>
            val m = versions.foldLeft(Option.empty[(Long, String)]) {
              case (acc, v) => if (v._1 <= ts) Some(v) else acc
            }
            val mTs = m.map(_._1).getOrElse(-1L)
            if (mTs != prev)
              out += ((k, id, ts, m.map(_._1), m.map(_._2)))
            if (ts >= hwm) keep += ((id, ts, mTs)) // still overtakable
          }
          state.update((versions, keep.result()))
          out.result().iterator
      }
      .toDF("key", "event_id", "event_ts", "version_ts", "payload")
  }

  /** Streaming ingest into a medallion table: each micro-batch appends
    * through the TableFormat seam (schema evolution included) — the
    * streaming twin of graft.ingest.Ingestor. Caller starts/stops the query.
    */
  def sinkToTable(stream: DataFrame, format: graft.sources.TableFormat,
      table: String, checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        format.appendMergeSchema(batch.sparkSession, batch, table)
      }

  /** Idempotent micro-batch append: each batch writes to its OWN partition
    * directory (`__batch_id=<id>`) under dynamic partition overwrite, so a
    * replayed batch — Structured Streaming re-delivers the in-flight batch
    * after a crash, foreachBatch is at-least-once by contract — overwrites
    * its previous (possibly partial) output instead of appending a second
    * copy. This is the parquet-only form of the transactional-sink dedup
    * Delta does with a commit log: the partition path IS the commit key.
    * Readers take `spark.read.parquet(path)` and may drop `__batch_id`.
    */
  def idempotentAppend(batch: DataFrame, batchId: Long, path: String): Unit =
    // partitionOverwriteMode as a PER-WRITE option, never a session conf
    // flip: a set/restore around the write races with concurrent writers
    // on the same session (their unrelated overwrite could inherit dynamic
    // semantics, or lose its own setting to this write's restore)
    batch.withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(path)

  /** [[sinkToTable]] with exactly-once output: the at-least-once replay of
    * foreachBatch is made idempotent by [[idempotentAppend]]'s
    * partition-per-batch overwrite. Caller starts/stops the query.
    */
  def sinkToPathExactlyOnce(stream: DataFrame, path: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        idempotentAppend(batch, batchId, path)
      }

  /** Group and key columns of a sketch input, both as strings, with NULL
    * keys dropped BEFORE the aggregate (the COUNT(DISTINCT) contract): a
    * group whose keys are all NULL then has no row, as in the relational
    * sketches, instead of an empty-sketch row.
    */
  private def sketchKeys(events: DataFrame, groupCol: String,
      keyCol: String): DataFrame =
    events
      .select(col(groupCol).cast("string").as(groupCol),
        col(keyCol).cast("string").as("k"))
      .where(col("k").isNotNull)

  /** Distinct-count per group via the oracle-exact md5 HLL
    * ([[graft.operators.HllMd5]]): the one-pass `hll_md5_agg` register
    * build, then `hll_md5_estimate`. Output (group, m_used, v_zero,
    * hll_estimate), bit-equal to the relational register sketch and
    * estimate, and so to a DuckDB replay (gate q225).
    *
    * The same call runs on a batch or a streaming frame. On a stream it
    * is a stateful aggregate: map-side partial sketches, then a state
    * store holding one 1 KB register array per group forever (registers
    * never grow, so no watermark is needed for boundedness). In update
    * mode every micro-batch re-emits the touched groups, and the last
    * emission per group equals the batch result on the same data to the
    * last bit, across a checkpoint restart too (EventStreamsSpec).
    */
  def distinctCountsHll(events: DataFrame, groupCol: String,
      keyCol: String): DataFrame = {
    import graft.operators.HllMd5
    HllMd5.estimates(
      HllMd5.sketchAgg(sketchKeys(events, groupCol, keyCol), "k", Seq(groupCol)),
      Seq(groupCol))
  }

  /** Bottom-k (KMV) distinct sketch per group, the set-operation
    * counterpart of [[distinctCountsHll]]: the one-pass `kmv_md5_agg`
    * build ([[graft.expressions.KmvAgg]], the k smallest distinct 60-bit
    * md5 hashes) read as (group, n_mins, kmv_estimate) by
    * [[graft.operators.IncrementalDistinct.estimates]], the same
    * (k-1)/tau IEEE expression as [[graft.operators.KmvSketch.estimate]]
    * (gate q233). On a stream the state is at most k longs per group,
    * and it stays a valid sketch for union/Jaccard math against any
    * other KMV sketch of the same k.
    */
  def distinctCountsKmv(events: DataFrame, groupCol: String,
      keyCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sketches = sketchKeys(events, groupCol, keyCol).groupBy(groupCol)
      .agg(ColumnBridge.column(graft.expressions.KmvAgg(
        ColumnBridge.expression(col("k")), k)
        .toAggregateExpression()).as("kmv"))
    graft.operators.IncrementalDistinct.estimates(sketches, groupCol, k)
  }

  /** Count-min frequency sketch per group, the frequency leg of the
    * sketch trio ([[distinctCountsHll]] cardinality, [[distinctCountsKmv]]
    * set overlap): the one-pass `cms_md5_agg` build
    * ([[graft.expressions.CmsMd5Agg]]) of the `depth × width` md5-parity
    * counter matrix of [[graft.operators.CmsMd5]] (16 KB at width 512).
    * Output (group, n_rows, counters); every counter replays in DuckDB
    * (gate q236). Counter updates are pure sums, so on a stream neither
    * arrival order nor micro-batch boundaries can move a counter.
    */
  def freqSketchCms(events: DataFrame, groupCol: String, keyCol: String,
      width: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    sketchKeys(events, groupCol, keyCol).groupBy(groupCol)
      .agg(ColumnBridge.column(
        graft.expressions.CmsMd5Agg(
          ColumnBridge.expression(col("k")), width)
          .toAggregateExpression()).as("counters"))
      .select(col(groupCol),
        aggregate(slice(col("counters"), 1, width), lit(0L), _ + _).as("n_rows"),
        col("counters"))
  }

  /** Watermark-lateness audit over a RECORDED stream: replay the arrival
    * order and flag every event whose event time trails the running
    * maximum seen before it by more than `allowedLatenessUs` — exactly the
    * rows a live watermark of that bound would have dropped. This is the
    * calibration tool for choosing `withWatermark` bounds
    * ([[tumblingCounts]]/[[dedupWithinWatermark]]): run it over yesterday's
    * log at candidate bounds, read the drop rate per stream.
    *
    * `arrivalCol` must be a total arrival order (a log sequence number);
    * `eventTimeUs` is event time in epoch micros (a long — convert
    * timestamps with `unix_micros`). The running max is
    * [[graft.operators.Packing.withGlobalRunningMax]]'s two-phase sharded
    * pass, NOT a global window — the audit scales like any other corpus
    * scan. Output: every input row plus `watermark_us` (exclusive running
    * max, NULL on the global first arrival), `lateness_us` (how far behind
    * the watermark, 0 when on time) and `is_late`.
    */
  def latenessAudit(events: DataFrame, arrivalCol: String,
      eventTimeUs: String, allowedLatenessUs: Long): DataFrame = {
    require(allowedLatenessUs >= 0,
      s"allowedLatenessUs must be >= 0, got $allowedLatenessUs")
    graft.operators.Packing.withGlobalRunningMax(
        events, Seq(arrivalCol), eventTimeUs, out = "watermark_us")
      .withColumn("lateness_us",
        greatest(coalesce(col("watermark_us") - col(eventTimeUs), lit(0L)),
          lit(0L)))
      .withColumn("is_late", col("lateness_us") > allowedLatenessUs)
  }
}
