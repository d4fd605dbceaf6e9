package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.streaming.EventStreams

/** Streaming transforms driven end-to-end under readStream (file source →
  * memory sink, processAllAvailable), cross-checked against their batch
  * computations on the same finite batch input.
  */
class EventStreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The file stream source tails a directory; stage the single events
    * parquet into one.
    */
  lazy val eventsDir: String = {
    val dir = Fixtures.tempDir("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${SparkTestSession.sfDir}/events.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toString
  }

  /** Same staging for documents, shared by the LM and DSIR stream tests. */
  lazy val docsDir: String = {
    val dir = Fixtures.tempDir("graft_docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${SparkTestSession.sfDir}/documents.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toString
  }

  private def runToMemory(df: DataFrame, name: String,
      mode: String = "append"): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Write `df` as the single parquet file `<dir>/<name>`: the file stream
    * source lists flat files, not nested directories.
    */
  private def stage(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val tmp = Fixtures.tempDir("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    java.nio.file.Files.move(
      java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get,
      dir.resolve(name))
  }

  private val eventsSchema =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  /** The batch events split at their median timestamp: (ts <= cut, ts > cut). */
  private def timeSplit(ev: DataFrame): (DataFrame, DataFrame) = {
    val cut = ev.select(percentile_approx(col("ts"), lit(0.5), lit(1000)))
      .head.getTimestamp(0)
    (ev.filter(col("ts") <= cut), ev.filter(col("ts") > cut))
  }

  /** Run `sketch` on a file stream of the events split in time into two
    * files, one micro-batch each, with a stop and a restart on the same
    * checkpoint between them, so the aggregate state also survives a
    * recovery. `sketch` applied to the batch frame is the reference:
    * every group's final row must have been emitted, and every emission
    * must be the state after the first file or after both — exact rows,
    * the same doubles, not "within sketch error". Returns the final rows.
    */
  private def assertRestartedSketch(sketch: DataFrame => DataFrame): Set[Row] = {
    val dir = Fixtures.tempDir("graft_sketch_stream")
    val ckpt = Fixtures.tempDir("graft_sketch_ckpt")
    val ev = Tables.events(spark, SparkTestSession.sfDir)
    val (first, second) = timeSplit(ev)
    val emittedBuf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def run(): Unit = {
      // foreachBatch sink: the memory sink cannot recover from a
      // checkpoint, and recovery is exactly what this exercises
      val q = sketch(spark.readStream.schema(eventsSchema)
          .option("maxFilesPerTrigger", "1").parquet(dir.toString))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(emittedBuf.add)
        }.start()
      q.processAllAvailable(); q.stop()
    }
    stage(first, dir, "0.parquet")
    run()
    stage(second, dir, "1.parquet")
    run()
    val emitted = {
      import scala.jdk.CollectionConverters._
      emittedBuf.asScala.toSet
    }
    val prefix = sketch(first).collect().toSet
    val full = sketch(ev).collect().toSet
    assert(full.nonEmpty)
    assert(full.subsetOf(emitted),
      s"missing final states: ${(full -- emitted).mkString("; ").take(2000)}")
    assert(emitted.subsetOf(prefix ++ full),
      s"spurious emissions: ${(emitted -- prefix -- full).mkString("; ").take(2000)}")
    full
  }

  /** A file stream over `dir`, one file per micro-batch. */
  private def fileStream(dir: java.nio.file.Path, schema: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)

  /** Run [[EventStreams.sessionize]] on `stream` in append mode and check
    * it against the same function on `batch`, the whole input as a batch
    * frame: every emitted session is a final one, and every session whose
    * end plus the gap lies before the final watermark (the latest event
    * time less 30 minutes) was emitted. Returns the emitted sessions.
    */
  private def assertStreamedSessions(stream: DataFrame, batch: DataFrame,
      gapMs: Long, name: String): Set[Row] = {
    val cols = Seq("user_id", "session_start", "session_end", "n_events").map(col)
    val streamed = runToMemory(EventStreams.sessionize(stream, gapMs), name)
      .select(cols: _*).collect().toSet
    val full = EventStreams.sessionize(batch, gapMs).select(cols: _*).collect().toSet
    val watermark = batch.agg(max(col("ts"))).head.getTimestamp(0).toInstant
      .minusSeconds(30 * 60)
    val closed = full.filter(
      _.getTimestamp(2).toInstant.plusMillis(gapMs).isBefore(watermark))
    assert(streamed.subsetOf(full),
      s"sessions that are not final: ${(streamed -- full).mkString("; ").take(2000)}")
    assert(closed.subsetOf(streamed),
      s"closed sessions not emitted: ${(closed -- streamed).mkString("; ").take(2000)}")
    streamed
  }

  private val sessionSchema = "user_id BIGINT, ts TIMESTAMP"

  /** `m` minutes after 2024-01-01 09:00 UTC. */
  private def minute(m: Int): java.sql.Timestamp = java.sql.Timestamp.from(
    java.time.Instant.parse("2024-01-01T09:00:00Z").plusSeconds(m * 60L))

  /** User 1's session from minute `start` to `end` with `n` events. */
  private def session(start: Int, end: Int, n: Long): Row =
    Row(1L, minute(start), minute(end), n)

  /** Stage one file per batch of user 1's event minutes (`<i>.parquet`)
    * and return all of them as one batch frame.
    */
  private def stageSessionBatches(dir: java.nio.file.Path,
      batches: Seq[Seq[Int]]): DataFrame = {
    batches.zipWithIndex.foreach { case (minutes, i) =>
      stage(minutes.map(m => (1L, minute(m))).toDF("user_id", "ts"), dir,
        s"$i.parquet")
    }
    batches.flatten.map(m => (1L, minute(m))).toDF("user_id", "ts")
  }

  test("tumbling-window counts under readStream match the batch computation") {
    val streamed = runToMemory(
      EventStreams.tumblingCounts(
        EventStreams.readEvents(spark, eventsDir)),
      "tumbling_out", mode = "complete") // complete: finite input, all windows
    val batch = Tables.events(spark, SparkTestSession.sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("frozen-LM quality scoring composes onto a document stream unchanged") {
    // deployment shape: LM trained offline (batch), scoring applied to a
    // live ingest stream — scoreBroadcast is a stateless projection, so the
    // same call works under readStream with identical results
    val batchDocs = Tables.documents(spark, SparkTestSession.sfDir)
    val (terms, logps, oov) = graft.operators.UnigramLm.collectLm(
      graft.operators.UnigramLm.termCounts(batchDocs, "text"))
    val streamDocs = spark.readStream.schema(batchDocs.schema)
      .parquet(docsDir)
    val streamed = runToMemory(
      graft.operators.UnigramLm.scoreBroadcast(
        streamDocs, "doc_id", "text", terms, logps, oov), "lm_stream_out")
    val batch = graft.operators.UnigramLm.scoreBroadcast(
      batchDocs, "doc_id", "text", terms, logps, oov)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("frozen-DSIR scoring composes onto a document stream unchanged") {
    // same deployment shape as the LM: weights trained offline (batch),
    // importance scoring applied to a live ingest stream — score is a
    // stateless filter + projection, so it runs under readStream verbatim
    val batchDocs = Tables.documents(spark, SparkTestSession.sfDir)
    val w = graft.operators.Dsir.trainWeightsSubset(
      batchDocs, org.apache.spark.sql.functions.col("lang") === "en",
      "text", maxN = 2, numBuckets = 1000)
    val streamDocs = spark.readStream.schema(batchDocs.schema)
      .parquet(docsDir)
    val streamed = runToMemory(
      graft.operators.Dsir.score(streamDocs, "doc_id", "text", w, maxN = 2),
      "dsir_stream_out")
    val batch = graft.operators.Dsir.score(batchDocs, "doc_id", "text", w, maxN = 2)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("stream-static enrichment under readStream matches the batch join") {
    val dim = Tables.customer(spark, SparkTestSession.sfDir)
    val streamed = runToMemory(
      EventStreams.enrichWithDim(
        EventStreams.readEvents(spark, eventsDir), dim, "user_id", "c_custkey")
        .select("event_id", "user_id", "c_mktsegment"),
      "enrich_out")
    val batch = EventStreams.enrichWithDim(
      Tables.events(spark, SparkTestSession.sfDir), dim, "user_id", "c_custkey")
      .select("event_id", "user_id", "c_mktsegment")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("dropDuplicatesWithinWatermark dedups a replayed stream") {
    val deduped = runToMemory(
      EventStreams.dedupWithinWatermark(
        EventStreams.readEvents(spark, eventsDir)
          .unionAll(EventStreams.readEvents(spark, eventsDir))),
      "dedup_out")
    val expected = Tables.events(spark, SparkTestSession.sfDir).count()
    assert(deduped.count() == expected)
  }

  test("streaming ingest sinks micro-batches into a medallion table") {
    spark.sql("CREATE DATABASE IF NOT EXISTS stream_test")
    val ckpt = Fixtures.tempDir("graft_ckpt").toString
    val q = EventStreams.sinkToTable(
      EventStreams.readEvents(spark, eventsDir),
      graft.sources.ParquetTableFormat,
      "stream_test.events_bronze", ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("stream_test.events_bronze").count() ==
      Tables.events(spark, SparkTestSession.sfDir).count())
  }

  test("stream-stream purchase-view join matches the batch join") {
    val streamed = runToMemory(
      EventStreams.purchaseViewJoin(
        EventStreams.readEvents(spark, eventsDir), withinMs = 60 * 60 * 1000L),
      "ssjoin_out")
    val ev = Tables.events(spark, SparkTestSession.sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val batch = p.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 3600 SECONDS"))
      .select("user_id", "purchase_id", "purchase_ts", "view_id", "view_ts")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("checkpointed ingest resumes exactly-once across restarts") {
    // stop the query, add a new file, start a NEW query instance on the SAME
    // checkpoint: the source must skip everything already committed (no
    // re-ingest of file 0) and pick up only the new file — the exactly-once
    // resume contract a production ingest relies on after a crash/deploy
    val dir = Fixtures.tempDir("graft_resume_stream")
    val ckpt = Fixtures.tempDir("graft_resume_ckpt").toString
    val tbl = "graft_stream_resume_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src = java.nio.file.Paths.get(s"${SparkTestSession.sfDir}/events.parquet")
    java.nio.file.Files.copy(src, dir.resolve("0.parquet"))
    def run(): Unit = {
      val q = EventStreams.sinkToTable(
        EventStreams.readEvents(spark, dir.toString),
        graft.sources.ParquetTableFormat, tbl, ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    val total = Tables.events(spark, SparkTestSession.sfDir).count()
    run()
    assert(spark.table(tbl).count() == total)
    java.nio.file.Files.copy(src, dir.resolve("1.parquet"))
    run()
    // file 1 ingested once, file 0 NOT replayed (refresh: the catalog caches
    // the table's file listing from the first count)
    spark.catalog.refreshTable(tbl)
    assert(spark.table(tbl).count() == 2 * total)
  }

  test("idempotent append makes batch re-delivery exactly-once") {
    // foreachBatch is at-least-once: after a crash the in-flight batch is
    // RE-DELIVERED with the same batchId. The partition-per-batch overwrite
    // must absorb the replay (including a partial first attempt) without
    // duplicating rows, while new batch ids append.
    val out = Fixtures.tempDir("graft_eo_sink").toString
    val b0 = (1L to 100L).toDF("v")
    EventStreams.idempotentAppend(b0, 0L, out)
    assert(spark.read.parquet(out).count() == 100)
    // replay of batch 0 — as after a crash mid-commit; simulate the partial
    // first attempt being superseded by a complete retry
    EventStreams.idempotentAppend(b0, 0L, out)
    assert(spark.read.parquet(out).count() == 100)
    EventStreams.idempotentAppend((200L to 249L).toDF("v"), 1L, out)
    assert(spark.read.parquet(out).count() == 150)
    // replay of an OLD batch after later batches landed touches only its own
    // partition
    EventStreams.idempotentAppend(b0, 0L, out)
    assert(spark.read.parquet(out).count() == 150)
    assert(spark.read.parquet(out).select(sum(col("v"))).as[Long].collect().head ==
      (1L to 100L).sum + (200L to 249L).sum)
  }

  test("exactly-once sink end-to-end over a file stream") {
    val dir = Fixtures.tempDir("graft_eo_stream")
    val ckpt = Fixtures.tempDir("graft_eo_ckpt").toString
    val out = Fixtures.tempDir("graft_eo_out").toString
    val src = java.nio.file.Paths.get(s"${SparkTestSession.sfDir}/events.parquet")
    java.nio.file.Files.copy(src, dir.resolve("0.parquet"))
    def run(): Unit = {
      val q = EventStreams.sinkToPathExactlyOnce(
        EventStreams.readEvents(spark, dir.toString), out, ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    val total = Tables.events(spark, SparkTestSession.sfDir).count()
    run()
    assert(spark.read.parquet(out).count() == total)
    // restart on the same checkpoint with a new file: only the new file lands
    java.nio.file.Files.copy(src, dir.resolve("1.parquet"))
    run()
    assert(spark.read.parquet(out).count() == 2 * total)
  }

  test("sessionization state carries across micro-batches") {
    // split events by time into two files; maxFilesPerTrigger=1 forces two
    // micro-batches, so sessions spanning the cut exercise state handoff
    val dir = Fixtures.tempDir("graft_two_batches")
    val ev = Tables.events(spark, SparkTestSession.sfDir)
    val (first, second) = timeSplit(ev.orderBy("ts"))
    stage(first, dir, "0.parquet")
    stage(second, dir, "1.parquet")
    val streamed = assertStreamedSessions(
      fileStream(dir, eventsSchema), ev, 30 * 60 * 1000L, "sessions_2batch_out")
    assert(streamed.nonEmpty)
  }

  test("late within-watermark events gap-merge into one session (batch-twin semantics)") {
    // batch 0: one event at 10:00 opens a session (gap 10 min, watermark 30
    // min → after batch 0 the watermark is 09:30). batch 1: two late events
    // at 09:35/09:36 — before the open session's reach (09:50) but within
    // the gap of EACH OTHER, so they form ONE session of 2. batch 2 at
    // 12:00 moves the watermark to 11:30, past both sessions: each is
    // emitted once, when it is final, and not before
    val dir = Fixtures.tempDir("graft_late_merge")
    val all = stageSessionBatches(dir, Seq(Seq(60), Seq(35, 36), Seq(180)))
    val streamed = assertStreamedSessions(fileStream(dir, sessionSchema), all,
      10 * 60 * 1000L, "late_merge_out")
    assert(streamed == Set(session(35, 36, 2), session(60, 60, 1)))
  }

  test("late events bridging two open sessions merge them before either is emitted") {
    // 10:00, then 09:35/09:36 (a separate session 24 min before it), then
    // 09:45/09:55, which close both gaps (a gap of exactly 10 min stays in
    // the session): ONE session of five events, emitted once 12:00 moves
    // the watermark past it. Emitting 09:35–09:36 as closed as soon as the
    // later 10:00 session existed would report two false sessions
    val dir = Fixtures.tempDir("graft_bridge")
    val all = stageSessionBatches(dir,
      Seq(Seq(60), Seq(35, 36), Seq(45, 55), Seq(180)))
    val streamed = assertStreamedSessions(fileStream(dir, sessionSchema), all,
      10 * 60 * 1000L, "bridge_out")
    assert(streamed == Set(session(35, 60, 5)))
  }

  test("rows with a NULL ts belong to no session, on a batch and on a stream") {
    val dir = Fixtures.tempDir("graft_null_ts")
    val at10 = Some(minute(60))
    def write(name: String, rows: Seq[(Long, Option[java.sql.Timestamp])]): Unit =
      stage(rows.toDF("user_id", "ts"), dir, s"$name.parquet")
    write("0", Seq((1L, at10), (1L, None), (2L, None)))
    write("1", Seq((1L, Some(minute(180)))))
    val all = spark.read.schema(sessionSchema).parquet(dir.toString)
    assert(EventStreams.sessionize(all, 10 * 60 * 1000L)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().toSet == Set(session(60, 60, 1), session(180, 180, 1)))
    val streamed = assertStreamedSessions(fileStream(dir, sessionSchema), all,
      10 * 60 * 1000L, "null_ts_out")
    assert(streamed == Set(session(60, 60, 1)))
  }

  test("stateful sessionization emits the same sessions as the batch twin") {
    val streamed = assertStreamedSessions(
      EventStreams.readEvents(spark, eventsDir),
      Tables.events(spark, SparkTestSession.sfDir), 30 * 60 * 1000L,
      "sessions_out")
    assert(streamed.nonEmpty)
  }

  test("readEvents starts on an EMPTY landing directory and picks up late files") {
    // the normal streaming-startup order: define the stream BEFORE the
    // first file lands; the schema probe must fall back, not throw
    val dir = Fixtures.tempDir("graft_empty_stream")
    val stream = EventStreams.readEvents(spark, dir.toString)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("late_files_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_files_out").count() == 0)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${SparkTestSession.sfDir}/events.parquet"),
        dir.resolve("part-0.parquet"))
      q.processAllAvailable()
      assert(spark.table("late_files_out").count() ==
        Tables.events(spark, SparkTestSession.sfDir).count())
    } finally q.stop()
  }

  test("streaming HLL distinct equals the batch sketch TO THE BIT across restarts") {
    assertRestartedSketch(
      EventStreams.distinctCountsHll(_, "event_type", "user_id"))
  }

  test("streaming KMV bottom-k equals the batch sketch TO THE BIT across restarts") {
    val k = 8 // < the 15 distinct users per type at sf0.001 → saturated branch
    val full = assertRestartedSketch(
      EventStreams.distinctCountsKmv(_, "event_type", "user_id", k))
    assert(full.exists(_.getLong(1) == k),
      "test should exercise the saturated (k-th minimum) branch")
  }

  test("streaming CMS counters equal the batch sketch TO THE BIT across restarts") {
    // counter updates are pure sums, so micro-batch boundaries and a
    // checkpoint restart cannot move a single counter off the batch result
    val width = 64
    val full = assertRestartedSketch(
      EventStreams.freqSketchCms(_, "event_type", "user_id", width))
    assert(full.exists(_.getSeq[Long](2).exists(_ > 1L)),
      "test should exercise colliding/repeated counters")
  }

  test("streaming as-of enrich converges to the native batch as-of join across restarts") {
    import spark.implicits._
    val evDir = Fixtures.tempDir("graft_asof_ev")
    val dimDir = Fixtures.tempDir("graft_asof_dim")
    val ckpt = Fixtures.tempDir("graft_asof_ckpt")
    // file 0: early versions + events, including id4 whose match will be
    // OVERTAKEN by a later version (re-emission path) and id1 (no match)
    stage(Seq(("a", 10L, "a1"), ("a", 20L, "a2")).toDF("key", "version_ts", "payload"),
      dimDir, "0.parquet")
    stage(Seq(("a", 1L, 5L), ("a", 2L, 10L), ("a", 3L, 25L), ("a", 4L, 35L))
      .toDF("key", "event_id", "ts"), evDir, "0.parquet")
    val dim1 = Seq(("a", 30L, "a3"), ("b", 15L, "b1")).toDF("key", "version_ts", "payload")
    val ev1 = Seq(("b", 5L, 50L)).toDF("key", "event_id", "ts")
    def evStream() = spark.readStream
      .schema("key STRING, event_id BIGINT, ts BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(evDir.toString)
    def dimStream() = spark.readStream
      .schema("key STRING, version_ts BIGINT, payload STRING")
      .option("maxFilesPerTrigger", "1").parquet(dimDir.toString)
    val seq = new java.util.concurrent.atomic.AtomicLong()
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Option[Long], Option[String])]()
    def run(): Unit = {
      val q = EventStreams.asOfEnrichStream(evStream(), dimStream())
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => emitted.add((seq.incrementAndGet(),
            r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            Option(r.getString(4)))))
        }.start()
      q.processAllAvailable(); q.stop()
    }
    run()
    stage(dim1, dimDir, "1.parquet")
    stage(ev1, evDir, "1.parquet")
    run() // restart: version history + pending events recover
    // last emission per event must equal the batch as-of over ALL data
    val lastPerEvent = {
      import scala.jdk.CollectionConverters._
      emitted.asScala.toSeq.sortBy(_._1)
        .map(e => e._2 -> ((e._3, e._4, e._5))).toMap
    }
    val allEv = Seq(("a", 1L, 5L), ("a", 2L, 10L), ("a", 3L, 25L),
      ("a", 4L, 35L), ("b", 5L, 50L)).toDF("key", "event_id", "ts")
    val allDim = Seq(("a", 10L, "a1"), ("a", 20L, "a2"), ("a", 30L, "a3"),
      ("b", 15L, "b1")).toDF("dkey", "version_ts", "payload")
    val batchTwin = graft.operators.AsOfJoin.joinAsOf(
      allEv, allDim, Seq("key"), "ts", Seq("dkey"), "version_ts",
      graft.plans.AsOfBackward)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        Option(r.getString(5))))).toMap
    assert(batchTwin.size == 5)
    assert(lastPerEvent == batchTwin)
    // the overtaken event was emitted at least twice (a2 then a3)
    val id4Emissions = {
      import scala.jdk.CollectionConverters._
      emitted.asScala.toSeq.filter(_._2 == 4L).map(_._5).distinct
    }
    assert(id4Emissions.toSet == Set(Some("a2"), Some("a3")))
  }

  test("streaming histogram bins equal the batch sketch TO THE BIT across restarts") {
    // HistogramSketch.sketch itself on the stream: bin counts are pure
    // sums, so micro-batch splits and a restart cannot move a count
    // between bins
    val full = assertRestartedSketch(graft.operators.HistogramSketch.sketch(
      _, "event_type", "value", lo = 0.0, hi = 100.0, nBins = 32))
    assert(full.groupBy(_.getString(0)).values.exists(_.size > 3),
      "test should spread mass over several bins")
  }

  test("no source file hand-writes group state outside asOfEnrichStream") {
    // sessions and sketches are planned aggregates that run unchanged on a
    // batch or a stream; only the stream-side as-of join, which Spark has
    // no built-in for, keeps a per-key state function
    import scala.jdk.CollectionConverters._
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- files(root)
      lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
      // the body of EventStreams.asOfEnrichStream: its def line up to the
      // next member of the object
      allowed = if (!f.getPath.endsWith("streaming/EventStreams.scala")) 0 until 0
        else {
          val from = lines.indexWhere(_.contains("def asOfEnrichStream("))
          val to = lines.indexWhere(l => l.startsWith("  /**") || l.startsWith("  def "),
            from + 1)
          if (from < 0) 0 until 0 else from until (if (to < 0) lines.size else to)
        }
      (line, i) <- lines.zipWithIndex
      if (line.contains("flatMapGroupsWithState") ||
        line.contains("mapGroupsWithState")) && !allowed.contains(i)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "use a planned aggregate (groupBy / session_window) instead:\n" +
        offenders.mkString("\n"))
  }
}
