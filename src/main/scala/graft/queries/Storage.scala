package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Housekeeping, QueryDef, Tables}
import graft.core.OracleArith.{sqlSumDec, sumDec}

/** Storage-format and data-layout surface (SURVEY §2.1 sources/sinks,
  * extended): columnar ORC, JSON-lines interchange, bucketed tables for
  * co-located joins, and partitioned layouts for partition pruning.
  *
  * The reference delegates all layout decisions to Delta/Databricks
  * (reference scripts/ingestion.py:94-98 append+mergeSchema sink,
  * dbt_project.yml:35 `location_root` per layer); at 100 TB the layout IS
  * the optimization — bucketing removes the shuffle from every key join
  * against a conformed table, and partitioning turns full scans into
  * single-partition reads. Each gate materializes the layout on disk and
  * reads it back (the q17 write-then-read pattern), so what's verified is
  * the on-disk format semantics, not lineage.
  */
object Storage {

  /** ORC round-trip (§2.1 S1/S3 widened to a second columnar format):
    * write supplier as ORC, read it back, aggregate. Proves type fidelity
    * (bigint/int/varchar/double) through the ORC writer/reader pair.
    */
  private val orcRoundtrip = QueryDef(
    (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_orc_supplier_${Housekeeping.appTag(s)}"
      Tables.supplier(s, dir).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy("s_nationkey")
        .agg(
          count(lit(1)).as("n_suppliers"),
          sumDec(col("s_acctbal")).as("sum_acctbal"))
        .orderBy("s_nationkey")
    },
    s"""SELECT s_nationkey, COUNT(*) AS n_suppliers,
       |  ${sqlSumDec("s_acctbal")} AS sum_acctbal
       |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin)

  /** JSON-lines round-trip (§2.1 interchange format): write customer as
    * JSONL, read it back with an explicit schema (production ingest never
    * trusts inference), aggregate. Doubles survive because Spark writes
    * shortest-round-trip representations.
    */
  private val jsonlRoundtrip = QueryDef(
    (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_customer_${Housekeeping.appTag(s)}"
      Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite").json(tmp)
      s.read
        .schema("c_custkey BIGINT, c_name STRING, c_mktsegment STRING, c_acctbal DOUBLE")
        .json(tmp)
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_customers"),
          sumDec(col("c_acctbal")).as("sum_acctbal"))
        .orderBy("c_mktsegment")
    },
    s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
       |  ${sqlSumDec("c_acctbal")} AS sum_acctbal
       |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)

  /** Bucketed co-located join (§2.5 J1 at scale): orders and lineitem
    * bucketed AND sorted by their join key into 8 buckets each — the join
    * then needs no exchange and no sort (each task zips matching buckets),
    * which at 100 TB removes the single most expensive shuffle a fact-fact
    * join has. PlanShapeSpec asserts the no-exchange plan; the oracle
    * checks the join's arithmetic.
    */
  private val bucketedJoin = QueryDef(
    (s, dir) => {
      val tag = Housekeeping.appTag(s)
      val ot = s"graft_gate_bkt_orders_$tag"
      val lt = s"graft_gate_bkt_lineitem_$tag"
      Housekeeping.dropStaleTables(s, "graft_gate_bkt_", tag)
      // the bucketed LAYOUT is built once per session and reused on re-runs
      // — exactly how a production lake works (bucketing is amortized over
      // every downstream join, not paid per query) and what the r7 verdict
      // prescribed for this gate: its driver-bench time swung 1.1→10.4 s on
      // identical code because each timed pass re-paid the two-table write
      // lifecycle; with reuse, bench's min-of-passes times the exchange-free
      // JOIN (the operator under test — PlanShapeSpec pins its plan shape),
      // while the first pass still exercises the writer
      // reuse only a COMPLETED layout: tableExists alone would trust a
      // table registered by a run that crashed mid-saveAsTable; like q84,
      // require the _SUCCESS completed-write marker under each location
      def complete(t: String): Boolean = s.catalog.tableExists(t) && {
        val loc = java.net.URI.create(
          s.sessionState.catalog
            .getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(t))
            .location.toString).getPath
        new java.io.File(loc, "_SUCCESS").exists()
      }
      if (!complete(ot) || !complete(lt)) {
        // pre-partition on the bucket hash so each task owns exactly one
        // bucket and writes ONE file — unaligned input partitions make every
        // task write a file per bucket (numPartitions × buckets small files,
        // the classic bucketed-write blowup)
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
          .repartition(8, col("o_orderkey"))
          .write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .format("parquet").saveAsTable(ot)
        Tables.lineitem(s, dir).select("l_orderkey", "l_quantity", "l_extendedprice")
          .repartition(8, col("l_orderkey"))
          .write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .format("parquet").saveAsTable(lt)
      }
      s.table(ot)
        .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          sumDec(col("l_quantity")).as("sum_qty"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${sqlSumDec("l_quantity")} AS sum_qty,
       |  ${sqlSumDec("l_extendedprice")} AS sum_price
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)

  /** Partition-pruned scan (§4 partition pruning): orders written
    * partitioned by year, then filtered on the partition column — the scan
    * must read exactly one partition directory (PlanShapeSpec asserts the
    * pruned read), which is the difference between scanning 100 TB and
    * scanning one year of it.
    */
  private val partitionPrune = QueryDef(
    (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_part_orders_${Housekeeping.appTag(s)}"
      // layout built once per session, reused on re-runs (same rationale as
      // q83: partitioning is amortized infrastructure; the operator under
      // test is the PRUNED SCAN, which PlanShapeSpec pins to one partition).
      // _SUCCESS is the completed-write marker — a crashed partial layout
      // lacks it and is rewritten
      if (!new java.io.File(s"$tmp/_SUCCESS").exists()) {
        Tables.orders(s, dir)
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
      }
      s.read.parquet(tmp)
        .filter(col("o_year") === 1997)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          sumDec(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${sqlSumDec("o_totalprice")} AS sum_price
       |FROM orders WHERE year(o_orderdate) = 1997
       |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)

  /** Z-order layout (§4 data skipping, extended): orders clustered by the
    * Morton interleave of (customer bucket, price band) and cut into 16
    * z-ordered files. The gate pins each file's min/max envelope on BOTH
    * dimensions — the statistics a scan would prune on — and the z-key
    * extremes; the oracle replays the identical shift/mask interleave and
    * rank arithmetic. ZOrderSpec measures the pruning win vs a
    * single-column sort.
    */
  private val zorderLayout = QueryDef(
    (s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"),
        (col("o_custkey") % 256).as("a"),
        least(floor(col("o_totalprice") / 1000).cast("long"), lit(255L)).as("b"))
      graft.operators.ZOrder.cluster(o, "a", "b", "o_orderkey", nFiles = 16)
        .groupBy("file")
        .agg(
          count(lit(1)).as("n_rows"),
          min("z").as("min_z"), max("z").as("max_z"),
          min("a").as("min_a"), max("a").as("max_a"),
          min("b").as("min_b"), max("b").as("max_b"))
        .orderBy("file")
    },
    s"""WITH d AS (
       |  SELECT o_orderkey, o_custkey % 256 AS a,
       |    LEAST(CAST(floor(o_totalprice / 1000) AS BIGINT), 255) AS b
       |  FROM orders),
       |z AS (SELECT o_orderkey, a, b,
       |        ${graft.operators.ZOrder.sqlZValue("a", "b")} AS z FROM d),
       |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY z, o_orderkey) AS rn,
       |        COUNT(*) OVER () AS total FROM z)
       |SELECT ((rn - 1) * 16) // total + 1 AS file, COUNT(*) AS n_rows,
       |  MIN(z) AS min_z, MAX(z) AS max_z,
       |  MIN(a) AS min_a, MAX(a) AS max_a,
       |  MIN(b) AS min_b, MAX(b) AS max_b
       |FROM r GROUP BY 1 ORDER BY file""".stripMargin)

  /** Malformed-record quarantine at the parse layer (§2.1 S1 hardened, the
    * parse-time sibling of the reference's quarantine_record semantics,
    * reference tests/unit/test_ingestion.py:271-282): a CSV with a
    * deterministic subset of rows corrupted (non-numeric key every 5th row)
    * is read back PERMISSIVE with an explicit schema and a corrupt-record
    * column — bad rows quarantine instead of failing the job or silently
    * vanishing. The oracle knows exactly which rows were corrupted, so it
    * reproduces both partitions from the source table.
    */
  private val csvQuarantine = QueryDef(
    (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_csv_quarantine_${Housekeeping.appTag(s)}"
      Tables.nation(s, dir)
        .select(concat_ws(",",
          when(col("n_nationkey") % 5 === 0,
            concat(col("n_nationkey"), lit("x")))
            .otherwise(col("n_nationkey").cast("string")),
          col("n_name"), col("n_regionkey").cast("string")).as("line"))
        .write.mode("overwrite").text(tmp)
      // pin: Spark disallows plans whose pruned scan references ONLY the
      // corrupt-record column (e.g. a count over the status groups);
      // caching the parsed rows is the documented pattern, and the table
      // is nation-sized
      graft.core.Materialize.pin(s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(tmp))
        .withColumn("status",
          when(col("_corrupt").isNull, "clean").otherwise("quarantined"))
        .groupBy("status")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_nationkey").cast("long")).as("sum_key"))
        .orderBy("status")
    },
    """SELECT CASE WHEN n_nationkey % 5 = 0 THEN 'quarantined' ELSE 'clean' END AS status,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT) AS sum_key
      |FROM nation GROUP BY 1 ORDER BY status""".stripMargin)

  /** Append + mergeSchema sink (§2.1 S3, reference scripts/ingestion.py:
    * 94-98 `mergeSchema=true`): two batches with DIFFERENT schemas append
    * to one table — batch 2 drops a column and adds a new one — and the
    * read-back must hold the union-by-name schema with nulls where a batch
    * had no value. This is the schema-evolution contract Delta gives the
    * reference for free; [[graft.sources.ParquetTableFormat]] emulates it
    * (rewrite-at-union on drift), and the gate proves the emulation's
    * semantics, not just that it doesn't throw (TableFormatSpec's job).
    */
  private val mergeSchemaAppend = QueryDef(
    (s, dir) => {
      val fmt = graft.sources.ParquetTableFormat
      val tag = Housekeeping.appTag(s)
      val tbl = s"graft_gate_merge_$tag"
      Housekeeping.dropStaleTables(s, "graft_gate_merge_", tag)
      s.sql(s"DROP TABLE IF EXISTS $tbl") // append sink: re-runs must reset
      val nation = Tables.nation(s, dir)
      fmt.appendMergeSchema(s,
        nation.filter(col("n_nationkey") < 13).select("n_nationkey", "n_name"),
        tbl) // creates at the batch-1 schema
      fmt.appendMergeSchema(s,
        nation.filter(col("n_nationkey") >= 13).select("n_nationkey", "n_regionkey"),
        tbl) // drift: n_name gone, n_regionkey new → union-by-name widen
      fmt.read(s, tbl).orderBy("n_nationkey")
    },
    """SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
      |FROM nation WHERE n_nationkey < 13
      |UNION ALL
      |SELECT n_nationkey, CAST(NULL AS VARCHAR) AS n_name, n_regionkey
      |FROM nation WHERE n_nationkey >= 13
      |ORDER BY n_nationkey""".stripMargin)

  /** Ingestion metadata stamping (§2.6 C5-C6, reference scripts/
    * ingestion.py:77-80): the CSV → stamp → dedup → bronze-append flow run
    * end to end with an INJECTED fixed timestamp (a wall-clock stamp can't
    * be oracle-compared; the injection seam is the Ingestor's
    * stampTimestamp). The oracle is the source table plus literal stamp
    * columns. source_file is stamped too but holds a session-unique tmp
    * path, so the gate projects it out (PipelineSpec covers it).
    */
  private val ingestStamp = QueryDef(
    (s, dir) => {
      val fmt = graft.sources.ParquetTableFormat
      val tag = Housekeeping.appTag(s)
      val tbl = s"graft_gate_stamp_$tag"
      Housekeeping.dropStaleTables(s, "graft_gate_stamp_", tag)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_csv_stamp_$tag"
      Tables.nation(s, dir).write.mode("overwrite").option("header", "true").csv(tmp)
      val ingestor = new graft.ingest.Ingestor(fmt, batchId = "gate_batch_001",
        stampTimestamp = Some(java.time.Instant.parse("2024-01-15T10:30:00Z")))
      val res = ingestor.ingest(s, graft.ingest.IngestSpec(
        name = "nation", path = tmp, targetTable = tbl,
        schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
          "n_nationkey INT, n_name STRING, n_regionkey INT")),
        dedupKeys = Seq("n_nationkey"), orderCol = Some("n_regionkey")))
      require(res.ok, s"gate ingest failed: ${res.error}")
      fmt.read(s, tbl)
        .select("n_nationkey", "n_name", "n_regionkey",
          "ingestion_timestamp", "ingestion_batch_id")
        .orderBy("n_nationkey")
    },
    """SELECT n_nationkey, n_name, n_regionkey,
      |  TIMESTAMP '2024-01-15 10:30:00' AS ingestion_timestamp,
      |  'gate_batch_001' AS ingestion_batch_id
      |FROM nation ORDER BY n_nationkey""".stripMargin)

  /** q154: small-file compaction round-trip — documents rewritten as
    * evenly-sized files at a declared records-per-file target, read back,
    * content-fingerprinted. The oracle sees only the original table: what
    * is verified is exact row-set preservation through the rewrite;
    * CompactionSpec pins the file-count arithmetic.
    */
  private val compaction = QueryDef(
    (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_compact_docs_${Housekeeping.appTag(s)}"
      graft.operators.Compaction
        .compactToTarget(Tables.documents(s, dir), tmp, 128)
        .select(col("doc_id"), col("n_chars"),
          md5(col("text").cast("binary")).as("fp"))
        .orderBy("doc_id")
    },
    """SELECT doc_id, n_chars, md5(text) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Multi-URI source read (§2.1 S2, reference scripts/ingestion.py's
    * path-per-source ingest): documents split across two independent
    * directory URIs (the "daily drop" layout every lake ingest has), then
    * read back in ONE `spark.read.parquet(uriA, uriB)` — a single unioned
    * scan, not two scans stitched with a union operator. The oracle is the
    * undivided source table: verified is that the multi-path reader loses
    * and duplicates nothing.
    */
  private val multiUriSource = QueryDef(
    (s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_uri_docs_${Housekeeping.appTag(s)}"
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(s"$base/drop_a")
      docs.filter(col("doc_id") % 2 === 1).write.mode("overwrite").parquet(s"$base/drop_b")
      s.read.parquet(s"$base/drop_a", s"$base/drop_b")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("doc_id")).as("n_distinct"))
        .orderBy("source")
    },
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  COUNT(DISTINCT doc_id) AS n_distinct
      |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)

  /** Metastore table scan as the TESTED SUBJECT (§2.1 S4, reference
    * dbt/models/sources.yml:4-8 + bronze/bronze_claims.sql:26 — dbt's
    * `source('raw', 'claims')` resolves to a hive_metastore table that
    * every bronze model SELECTs from): the raw frame is registered in the
    * session catalog with saveAsTable, and the query under test reads it
    * back EXCLUSIVELY through spark.table() — catalog resolution to a
    * managed table, not a path scan — then applies the reference's bronze
    * shape (projection + literal run-metadata stamp). The oracle is the
    * same SELECT over the parquet source, so what is verified is that
    * catalog write → catalog resolve → scan loses and mutates nothing.
    */
  private val metastoreScan = QueryDef(
    (s, dir) => {
      val tag = Housekeeping.appTag(s)
      val tbl = s"graft_gate_raw_supplier_$tag"
      Housekeeping.dropStaleTables(s, "graft_gate_raw_supplier_", tag)
      Tables.supplier(s, dir).write.mode("overwrite")
        .format("parquet").saveAsTable(tbl)
      s.table(tbl)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"),
          lit("raw.supplier").as("source_ref"),
          lit("gate_run_001").as("run_id"))
        .orderBy("s_suppkey")
    },
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
      |  'raw.supplier' AS source_ref, 'gate_run_001' AS run_id
      |FROM supplier ORDER BY s_suppkey""".stripMargin)

  /** Schema-drift report with an INDEPENDENT metadata replay: a drifted
    * supplier batch (key widened int→bigint, s_acctbal dropped, s_region
    * added) is written to parquet, the operator classifies it against the
    * declared contract, and the oracle re-derives the same report from
    * DuckDB's own read of the parquet FOOTER (parquet_schema) — the two
    * engines independently parse the file metadata, so what is verified
    * is the drift classification itself, not a copied expectation.
    *
    * The artifact path is SESSION-TAGGED (concurrent JVMs must not overwrite
    * each other's in-flight commit — Spark's overwrite is delete-then-write,
    * so a shared fixed path could transiently glob to zero part files) and
    * carries the `graft_keep_` prefix: the oracle replays the footer AFTER
    * this JVM exits, so the exit sweep must not remove it (the age-guarded
    * stale sweep reclaims it instead). The tagged path reaches the oracle
    * through [[graft.core.DynamicOracle]].
    */
  private val schemaDriftGate = QueryDef(
    (s, dir) => {
      val tag = Housekeeping.appTag(s)
      Housekeeping.cleanStaleTmpDirs("graft_keep_schema_drift_", tag)
      // no ".parquet" suffix on the dir: cleanStaleTmpDirs' own-artifact
      // guard is endsWith(tag)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_keep_schema_drift_$tag"
      Tables.supplier(s, dir)
        .withColumn("s_nationkey", col("s_nationkey").cast("bigint"))
        .withColumn("s_region", concat(lit("R"), col("s_nationkey")))
        .drop("s_acctbal")
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
      graft.core.DynamicOracle.put("q220_schema_drift",
        s"""WITH contract(col, typ) AS (VALUES
           |  ('s_suppkey', 'bigint'), ('s_name', 'string'),
           |  ('s_nationkey', 'int'), ('s_acctbal', 'double')),
           |obs AS (SELECT DISTINCT name AS col,
           |    CASE WHEN type = 'INT64' THEN 'bigint'
           |         WHEN type = 'INT32' THEN 'int'
           |         WHEN type = 'DOUBLE' THEN 'double'
           |         WHEN type = 'BYTE_ARRAY' AND converted_type = 'UTF8' THEN 'string'
           |    END AS typ
           |  FROM parquet_schema('$path/*.parquet')
           |  WHERE num_children IS NULL),
           |drift AS (
           |  SELECT o.col AS "column", 'added' AS change, '' AS expected,
           |    o.typ AS observed
           |  FROM obs o LEFT JOIN contract c ON o.col = c.col WHERE c.col IS NULL
           |  UNION ALL
           |  SELECT c.col, 'removed', c.typ, ''
           |  FROM contract c LEFT JOIN obs o ON o.col = c.col WHERE o.col IS NULL
           |  UNION ALL
           |  SELECT c.col, 'type_changed', c.typ, o.typ
           |  FROM contract c JOIN obs o ON o.col = c.col WHERE c.typ <> o.typ)
           |SELECT * FROM drift ORDER BY "column", change""".stripMargin)
      val contract = org.apache.spark.sql.types.StructType.fromDDL(
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
      graft.operators.SchemaDrift.report(s, contract, s.read.parquet(path).schema)
        .orderBy("column", "change")
    },
    None)

  val defs: Map[String, QueryDef] = Map(
    "q220_schema_drift" -> schemaDriftGate,
    "q210_metastore_scan" -> metastoreScan,
    "q58_orc_roundtrip" -> orcRoundtrip,
    "q157_multi_uri" -> multiUriSource,
    "q154_compaction" -> compaction,
    "q59_jsonl_roundtrip" -> jsonlRoundtrip,
    "q83_bucketed_join" -> bucketedJoin,
    "q84_partition_prune" -> partitionPrune,
    "q90_zorder_layout" -> zorderLayout,
    "q91_csv_quarantine" -> csvQuarantine,
    "q120_merge_schema" -> mergeSchemaAppend,
    "q121_ingest_stamp" -> ingestStamp,
    "q169_exactly_once_sink" -> exactlyOnceSink,
    "q193_cdc_apply" -> cdcApply,
    "q194_time_travel" -> timeTravel)

  /** q193: CDC apply (Cdc.applyChanges) — a change log with updates,
    * deletes, a delete-then-revive sequence, and fresh inserts folded
    * into the customer snapshot; the latest change per key wins. The
    * oracle replays the log with a per-key ROW_NUMBER over the sequence
    * (unique per key here, matching the operator's seq contract).
    */
  private lazy val cdcApply = QueryDef(
    (s, dir) => {
      val base = Tables.customer(s, dir).select(
        col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"))
      def change(rows: org.apache.spark.sql.DataFrame, seq: Long, op: String,
          name: org.apache.spark.sql.Column,
          bal: org.apache.spark.sql.Column) =
        rows.select(col("k"), lit(seq).as("seq"), lit(op).as("op"),
          name.as("name"), bal.as("acctbal"))
      val changes = change(base.filter(col("k") % 10 === 0), 1L, "U",
          col("name"), col("acctbal") + 500.0)
        .unionByName(change(base.filter(col("k") % 17 === 0), 2L, "D",
          col("name"), col("acctbal")))
        .unionByName(change(base.filter(col("k") % 34 === 0), 3L, "I",
          concat(lit("revived_"), col("k").cast("string")), lit(1.5)))
        .unionByName(change(
          base.filter(col("k") <= 20)
            .select((col("k") + 500000L).as("k"), col("name"), col("acctbal")),
          1L, "I", concat(lit("cdc_new_"), (col("k") - 500000L).cast("string")),
          lit(7.25)))
      graft.operators.Cdc.applyChanges(base, changes, Seq("k"))
        .orderBy("k")
    },
    """WITH base AS (
      |  SELECT c_custkey AS k, c_name AS name, c_acctbal AS acctbal
      |  FROM customer),
      |changes AS (
      |  SELECT k, 1 AS seq, 'U' AS op, name, acctbal + 500.0 AS acctbal
      |  FROM base WHERE k % 10 = 0
      |  UNION ALL
      |  SELECT k, 2, 'D', name, acctbal FROM base WHERE k % 17 = 0
      |  UNION ALL
      |  SELECT k, 3, 'I', 'revived_' || CAST(k AS VARCHAR), 1.5
      |  FROM base WHERE k % 34 = 0
      |  UNION ALL
      |  SELECT k + 500000, 1, 'I', 'cdc_new_' || CAST(k AS VARCHAR), 7.25
      |  FROM base WHERE k <= 20),
      |latest AS (SELECT k, op, name, acctbal FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC)
      |      AS rn
      |    FROM changes) WHERE rn = 1)
      |SELECT k, name, acctbal FROM (
      |  SELECT b.k, b.name, b.acctbal FROM base b
      |  LEFT JOIN latest l ON b.k = l.k WHERE l.k IS NULL
      |  UNION ALL
      |  SELECT k, name, acctbal FROM latest WHERE op <> 'D')
      |ORDER BY k""".stripMargin)

  /** q194: versioned-table time travel (VersionedTable) — two committed
    * snapshots read back BY VERSION after both commits: v1 must still
    * read exactly as written after v2 lands (the whole time-travel
    * claim). The oracle rebuilds both snapshot definitions from the
    * source table.
    */
  private lazy val timeTravel = QueryDef(
    (s, dir) => {
      val tag = Housekeeping.appTag(s)
      Housekeeping.cleanStaleTmpDirs("graft_gate_tt_", tag)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_gate_tt_$tag"
      val vt = graft.sources.VersionedTable
      val v1 = Tables.customer(s, dir)
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("acctbal"))
      val v2 = v1.withColumn("acctbal",
          when(col("k") % 3 === 0, col("acctbal") * 2.0)
            .otherwise(col("acctbal")))
        .unionByName(v1.filter(col("k") <= 10)
          .select((col("k") + 900000L).as("k"), lit(3.25).as("acctbal")))
      vt.commit(s, v1, path)
      vt.commit(s, v2, path)
      vt.read(s, path, 1L).withColumn("version", lit(1L))
        .unionByName(vt.readLatest(s, path).withColumn("version", lit(2L)))
        .orderBy("version", "k")
    },
    """WITH v1 AS (
      |  SELECT c_custkey AS k, c_acctbal AS acctbal FROM customer
      |  WHERE c_custkey <= 500),
      |v2 AS (
      |  SELECT k, CASE WHEN k % 3 = 0 THEN acctbal * 2.0 ELSE acctbal END
      |    AS acctbal
      |  FROM v1
      |  UNION ALL
      |  SELECT k + 900000, 3.25 FROM v1 WHERE k <= 10)
      |SELECT k, acctbal, version FROM (
      |  SELECT k, acctbal, CAST(1 AS BIGINT) AS version FROM v1
      |  UNION ALL
      |  SELECT k, acctbal, CAST(2 AS BIGINT) FROM v2)
      |ORDER BY version, k""".stripMargin)

  /** q169: the exactly-once sink semantics under crash-replay, on disk —
    * a PARTIAL batch-0 write (the crash), a full batch-0 REPLAY
    * (foreachBatch re-delivery; must overwrite the partial remnant, not
    * append next to it), then batch 1. The read-back equals the clean
    * union, which is the whole exactly-once claim; a plain append sink
    * would return the 5 partial rows twice. Oracle is the trivial clean
    * SELECT — the machinery under test is the partition-per-batch
    * dynamic overwrite, not the query.
    */
  private lazy val exactlyOnceSink = QueryDef(
    (s, dir) => {
      val tag = Housekeeping.appTag(s)
      Housekeeping.cleanStaleTmpDirs("graft_gate_xo_", tag)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_gate_xo_$tag"
      val nation = Tables.nation(s, dir)
      val b0 = nation.filter(col("n_nationkey") < 13)
      graft.streaming.EventStreams.idempotentAppend(b0.limit(5), 0L, path)
      graft.streaming.EventStreams.idempotentAppend(b0, 0L, path)
      graft.streaming.EventStreams.idempotentAppend(
        nation.filter(col("n_nationkey") >= 13), 1L, path)
      s.read.parquet(path)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin)
}
