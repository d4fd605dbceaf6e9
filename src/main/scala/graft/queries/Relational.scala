package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{QueryDef, Tables}
import graft.core.OracleArith._

/** Relational operator surface (SURVEY.md §2.1-2.5, §2.8): scans, projection,
  * filters, aggregation, joins (incl. broadcast / semi / anti), windows,
  * sorts, top-k, set ops, rollup, distinct.
  *
  * Every query is declarative DataFrame code — Catalyst handles pushdown,
  * pruning and join strategy; broadcast hints are explicit only where a
  * dimension table is known-small (region/nation/supplier/part) so the plan
  * stays shuffle-free on the big fact side at any scale.
  *
  * All money arithmetic goes through OracleArith so results are bit-identical
  * to the DuckDB oracle regardless of partitioning (see that file's scaladoc).
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: the flagship aggregation (SURVEY §2.4
    * A2/A4/A7). Map-side partial aggregation + 6-group output: no scale risk.
    */
  private val q1Agg = QueryDef(
    (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumDec(col("l_quantity")).as("sum_qty"),
          sumDec(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (dec2(lit(1)) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          avgDec(col("l_quantity")).as("avg_qty"),
          avgDec(col("l_extendedprice")).as("avg_price"),
          avgDec(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSumDec("l_quantity")} AS sum_qty,
       |  ${sqlSumDec("l_extendedprice")} AS sum_base_price,
       |  CAST(SUM(${sqlDec2("l_extendedprice")} * (${sqlDec2("1")} - ${sqlDec2("l_discount")})) AS DOUBLE) AS sum_disc_price,
       |  ${sqlAvgDec("l_quantity")} AS avg_qty,
       |  ${sqlAvgDec("l_extendedprice")} AS avg_price,
       |  ${sqlAvgDec("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** Filter + projection (SURVEY §2.2 P1-P5): predicates and the 4-column
    * read schema must both reach the parquet scan (PushedFilters/ReadSchema).
    */
  private val filterProject = QueryDef(
    (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate").between(
            lit("1997-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp"))
            && col("l_quantity") < 10 && col("l_discount") > 0.02)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
      |  AND l_quantity < 10 AND l_discount > 0.02
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** Fact-fact equi-join + aggregation (SURVEY §2.5 J1): orders⋈lineitem
    * revenue per order status. Both sides shuffle on the join key once; the
    * aggregation reuses no extra shuffle beyond the 3-group rollup.
    */
  private val joinAgg = QueryDef(
    (s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), dec2(col("l_extendedprice")).as("p"),
          dec2(col("l_discount")).as("d"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          sum(col("p") * (dec2(lit(1)) - col("d"))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_orderstatus")
    },
    s"""SELECT o_orderstatus,
       |  CAST(SUM(${sqlDec2("l_extendedprice")} * (${sqlDec2("1")} - ${sqlDec2("l_discount")})) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin)

  /** Broadcast dimension join (SURVEY §2.5): part is tiny relative to
    * lineitem at every SF — explicit broadcast keeps the fact side
    * shuffle-free, the difference between one pass and a full exchange at
    * 100 TB.
    */
  private val broadcastJoin = QueryDef(
    (s, dir) => {
      val p = Tables.part(s, dir).select("p_partkey", "p_brand")
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sumDec(col("l_quantity")).as("sum_qty"),
          sumDec(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    },
    s"""SELECT p_brand,
       |  ${sqlSumDec("l_quantity")} AS sum_qty,
       |  ${sqlSumDec("l_extendedprice")} AS sum_price,
       |  COUNT(*) AS n
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin)

  /** Multi-way star join through broadcast dims (SURVEY §2.5 J2): revenue per
    * region name. region/nation/customer broadcast up the star; only
    * orders⋈customer needs care — customer is broadcastable until very large
    * SF, at which point AQE flips it to shuffle join without a code change.
    */
  private val starJoin = QueryDef(
    (s, dir) => {
      val r = Tables.region(s, dir)
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val o = Tables.orders(s, dir).select("o_custkey", "o_totalprice")
      val geo = broadcast(
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey", "r_name"))
      o.join(geo, o("o_custkey") === geo("c_custkey"))
        .groupBy("r_name")
        .agg(sumDec(col("o_totalprice")).as("total_price"), count(lit(1)).as("n_orders"))
        .orderBy("r_name")
    },
    s"""SELECT r_name,
       |  ${sqlSumDec("o_totalprice")} AS total_price,
       |  COUNT(*) AS n_orders
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name
       |ORDER BY r_name""".stripMargin)

  /** Semi join (SURVEY §2.5): customers that have at least one high-value
    * order — EXISTS without duplicating the left side.
    */
  private val semiJoin = QueryDef(
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000).select("o_custkey")
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin)

  /** Anti join = referential-integrity orphan check (SURVEY §2.5 J3, §2.6):
    * customers with no orders at all, the dbt `relationships`-test shape.
    */
  private val antiJoin = QueryDef(
    (s, dir) => {
      val o = Tables.orders(s, dir).select("o_custkey")
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin)

  /** Window functions (SURVEY §2.8): per-customer order sequence with
    * row_number, lag and a running sum. Partitioned window → one shuffle on
    * o_custkey; no global sort.
    */
  private val windowFuncs = QueryDef(
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          dec2(col("o_totalprice")).as("p"))
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_price", lag(col("p"), 1).over(w).cast("double"))
        .withColumn("running_total",
          sum(col("p")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          col("prev_price"), col("running_total"))
        // materialize-before-global-sort (QueryDef.orderedOut)
        .transform(d => graft.core.QueryDef.orderedOut(d, "o_custkey", "rn"))
    },
    s"""SELECT o_custkey, o_orderkey,
       |  ROW_NUMBER() OVER w AS rn,
       |  CAST(LAG(${sqlDec2("o_totalprice")}, 1) OVER w AS DOUBLE) AS prev_price,
       |  CAST(SUM(${sqlDec2("o_totalprice")}) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
       |FROM orders
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |ORDER BY o_custkey, rn""".stripMargin)

  /** Top-k (SURVEY §2.8): k highest-value orders. orderBy+limit compiles to
    * TakeOrderedAndProject — per-partition heaps, no global sort, O(k) driver
    * collect: the only safe global top-k at 100 TB.
    */
  private val topK = QueryDef(
    (s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(20),
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 20""".stripMargin)

  /** Set ops (SURVEY §2.8): customers active in 1995 INTERSECT 2000, minus
    * BUILDING-segment ones — exercises intersect/except distinct semantics.
    */
  private val setOps = QueryDef(
    (s, dir) => {
      // INTERSECT of two year slices of the SAME table = one scan with two
      // membership flags folded in a single custkey aggregate — the
      // two-branch intersect formulation scanned orders twice and ran a
      // distinct exchange per branch plus the intersect join (guide §2.4:
      // remove shuffles outright; at scale this halves the fact-table
      // passes). Result set is identical: distinct custkeys active in both
      // years, EXCEPT building-segment ones (except keeps its null-safe
      // set-difference semantics).
      val o = Tables.orders(s, dir)
      val both = o
        .select(col("o_custkey"), year(col("o_orderdate")).as("__yr"))
        .filter(col("__yr") === 1995 || col("__yr") === 2000)
        .groupBy("o_custkey")
        .agg(max(when(col("__yr") === 1995, 1).otherwise(0)).as("__in95"),
          max(when(col("__yr") === 2000, 1).otherwise(0)).as("__in00"))
        .filter(col("__in95") === 1 && col("__in00") === 1)
        .select("o_custkey")
      val building = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      both.except(building)
        .withColumnRenamed("o_custkey", "custkey")
        .orderBy("custkey")
    },
    """SELECT o_custkey AS custkey FROM orders WHERE date_part('year', o_orderdate) = 1995
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 2000
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY custkey""".stripMargin)

  /** Rollup (SURVEY §2.4 A9): subtotal hierarchy region→nation over customer
    * account balances, with GROUPING to disambiguate null-vs-total rows.
    */
  private val rollupAgg = QueryDef(
    (s, dir) => {
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      Tables.customer(s, dir)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        .createOrReplaceTempView("graft_cust_geo")
      // SQL surface: rollup through spark.sql — the Dataset rollup() API
      // trips Spark's ambiguous-self-join detection on post-agg orderBy
      // (Expand duplicates the grouping attrs); the SQL path resolves fine
      // and is also how dbt-style models run in this engine.
      s.sql(s"""SELECT r_name, n_name,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  COUNT(*) AS n_cust,
        |  CAST(grouping_id() AS INT) AS gid
        |FROM graft_cust_geo
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },
    s"""SELECT r_name, n_name,
       |  ${sqlSumDec("c_acctbal")} AS sum_bal,
       |  COUNT(*) AS n_cust,
       |  GROUPING(r_name, n_name) AS gid
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)

  /** Deterministic keep-latest dedup (SURVEY §2.3 D1): the reference's
    * dropDuplicates keeps an arbitrary row; production semantics (and the
    * oracle) need row_number over (key ORDER BY ts DESC, id DESC) = 1.
    */
  private val dedupLatest = QueryDef(
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    },
    """SELECT user_id, event_id, event_type, value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin)

  /** Duplicate-key detector (SURVEY §2.3 D2): dbt `unique`-test shape —
    * return the violating keys with their multiplicity.
    */
  private val dupKeys = QueryDef(
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .filter(col("n_events") > 1)
        .orderBy("user_id"),
    """SELECT user_id, COUNT(*) AS n_events
      |FROM events GROUP BY user_id HAVING COUNT(*) > 1
      |ORDER BY user_id""".stripMargin)

  /** Distinct count + uniqueness score (SURVEY §2.3 D3, §2.4 A10): exact
    * per-column cardinalities in one pass. (The 100 TB variant swaps in
    * approx_count_distinct — see `agg_approx` which has no exact oracle.)
    */
  private val uniquenessScore = QueryDef(
    (s, dir) =>
      Tables.orders(s, dir).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_custkeys"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        (countDistinct(col("o_custkey")).cast("double") / count(col("o_custkey")))
          .as("custkey_uniqueness")),
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(DISTINCT o_custkey) AS n_custkeys,
      |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
      |  CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) / COUNT(o_custkey) AS custkey_uniqueness
      |FROM orders""".stripMargin)

  /** JSON extraction (extended surface, SURVEY §2.7 note): events.props is a
    * JSON string; pull props.k and aggregate by event_type. Parsed with
    * `from_json` + an explicit one-field schema, not `get_json_object`:
    * the schema'd parser runs Jackson once into a typed struct, while the
    * path form re-tokenizes the JSON string per extraction — measured 9×
    * slower on this query at sf0.1 (6.25 s vs 0.7 s for the q64 struct
    * form doing strictly more work). Same null semantics on this data
    * (missing/malformed → null k), pinned against the path form in
    * QueriesSmokeSpec.
    */
  private val jsonExtract = QueryDef(
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
        .orderBy("event_type"),
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  /** Time-bucketed aggregation (SURVEY §2.8 streaming's batch twin): hourly
    * tumbling windows over events via date_trunc — identical logic runs under
    * Structured Streaming with withWatermark (graft.streaming).
    */
  private val timeWindow = QueryDef(
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .orderBy("hour", "event_type"),
    s"""SELECT date_trunc('hour', ts) AS hour, event_type,
       |  COUNT(*) AS n, ${sqlSumDec("value")} AS sum_value
       |FROM events GROUP BY 1, 2
       |ORDER BY hour, event_type""".stripMargin)

  /** CSV round-trip (SURVEY §2.1 S1/S3): write nation out as CSV, read it
    * back with an explicit schema (production ingest never trusts
    * inferSchema), prove values survive. Exact-typed columns only.
    */
  private val csvRoundtrip = QueryDef(
    (s, dir) => {
      val tmp = graft.core.Housekeeping.scratchDir(s, "csv_nation")
      Tables.nation(s, dir).write.mode("overwrite").option("header", "true").csv(tmp)
      s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true")
        .csv(tmp)
        .orderBy("n_nationkey")
    },
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")

  /** Approximate distinct (SURVEY §2.4 A10 at scale): HLL++ sketch. The
    * sketch internals aren't SQL-reproducible, but the ACCURACY CLAIM is:
    * the run-computed estimates ride into the oracle as literals
    * ([[graft.core.DynamicOracle]]) and DuckDB checks each against its own
    * exact COUNT(DISTINCT) — a group whose estimate strays past the bound
    * drops out of the oracle frame and the row-count/hash check fails. The
    * bound is 3x the default 5% rsd (HLL error is 1-sigma at rsd).
    */
  private val aggApprox = QueryDef(
    (s, dir) => {
      val out = Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .orderBy("l_returnflag")
      val rows = out.collect()
      val values = rows.map { r =>
        s"('${r.getString(0)}', CAST(${r.getLong(1)} AS BIGINT), " +
          s"CAST(${r.getLong(2)} AS BIGINT))"
      }.mkString(", ")
      graft.core.DynamicOracle.put("q18_approx_distinct",
        s"""WITH est(l_returnflag, approx_orders, approx_parts) AS
           |  (VALUES $values),
           |x AS (
           |  SELECT l_returnflag,
           |    CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS eo,
           |    CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS ep
           |  FROM lineitem GROUP BY 1)
           |SELECT e.l_returnflag, e.approx_orders, e.approx_parts
           |FROM est e JOIN x USING (l_returnflag)
           |WHERE abs(CAST(e.approx_orders AS DOUBLE) - eo) / eo
           |        <= CAST('0.15' AS DOUBLE)
           |  AND abs(CAST(e.approx_parts AS DOUBLE) - ep) / ep
           |        <= CAST('0.15' AS DOUBLE)
           |ORDER BY e.l_returnflag""".stripMargin)
      graft.core.DynamicOracle.collected(out, rows)
    },
    None)

  /** Approximate percentiles (the quantile face of A10-at-scale, next to
    * q18's approx distinct): Spark's built-in `percentile_approx`
    * (Greenwald-Khanna-style summary) per return flag at accuracy 1000.
    * Sketch internals aren't SQL-reproducible, but the RANK-ERROR claim
    * is: the run-computed estimates ride into the oracle as literals and
    * DuckDB asserts each lies between the EXACT order statistics at rank
    * (q ± 2/accuracy)·n (±1 rank for boundary conventions) from its own
    * sort — an estimate outside its rank window drops the row and fails
    * the hash. Bound is 2x the documented 1/accuracy error.
    */
  private val aggApproxPercentile = QueryDef(
    (s, dir) => {
      import graft.core.DynamicOracle.dbl
      val qs = Seq(0.25, 0.5, 0.75, 0.9)
      val acc = 1000
      val out = Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
          array(qs.map(lit): _*), lit(acc)).as("est"))
        .select(col("l_returnflag"), posexplode(col("est")))
        .withColumn("quantile",
          element_at(array(qs.map(lit): _*), col("pos") + 1))
        .select(col("l_returnflag"), col("quantile"),
          col("col").as("est_value"))
        .orderBy("l_returnflag", "quantile")
      val rows = out.collect()
      val values = rows.map { r =>
        s"('${r.getString(0)}', ${dbl(r.getDouble(1))}, ${dbl(r.getDouble(2))})"
      }.mkString(", ")
      val eps = dbl(2.0 / acc)
      graft.core.DynamicOracle.put("q237_approx_percentile",
        s"""WITH est(l_returnflag, quantile, est_value) AS (VALUES $values),
           |x AS (SELECT l_returnflag, l_extendedprice AS v FROM lineitem
           |      WHERE l_extendedprice IS NOT NULL),
           |n_tbl AS (SELECT l_returnflag, COUNT(*) AS n FROM x GROUP BY 1),
           |r AS (SELECT l_returnflag, v, ROW_NUMBER() OVER (
           |        PARTITION BY l_returnflag ORDER BY v) AS rk FROM x),
           |b AS (SELECT e.l_returnflag, e.quantile, e.est_value,
           |    GREATEST(1, CAST(floor((e.quantile - $eps) * n.n) AS BIGINT))
           |      AS lo_rk,
           |    LEAST(n.n, CAST(ceil((e.quantile + $eps) * n.n) AS BIGINT) + 1)
           |      AS hi_rk
           |  FROM est e JOIN n_tbl n USING (l_returnflag)),
           |chk AS (SELECT b.*, rl.v AS lo_v, rh.v AS hi_v
           |  FROM b JOIN r rl ON rl.l_returnflag = b.l_returnflag
           |                  AND rl.rk = b.lo_rk
           |         JOIN r rh ON rh.l_returnflag = b.l_returnflag
           |                  AND rh.rk = b.hi_rk)
           |SELECT l_returnflag, quantile, est_value FROM chk
           |WHERE est_value >= lo_v AND est_value <= hi_v
           |ORDER BY l_returnflag, quantile""".stripMargin)
      graft.core.DynamicOracle.collected(out, rows)
    },
    None)

  /** Structured JSON parsing: from_json into a typed struct (vs q15's
    * path extraction) with schema-declared field access.
    */
  private val jsonStruct = QueryDef(
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("props_struct",
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .groupBy("event_type")
        .agg(
          sum(col("props_struct.k")).as("sum_k"),
          min(col("props_struct.k")).as("min_k"),
          max(col("props_struct.k")).as("max_k"))
        .orderBy("event_type"),
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q1_agg" -> q1Agg,
    "q64_json_struct" -> jsonStruct,
    "q2_filter_project" -> filterProject,
    "q3_join_agg" -> joinAgg,
    "q4_broadcast_join" -> broadcastJoin,
    "q5_star_join" -> starJoin,
    "q6_semi_join" -> semiJoin,
    "q7_anti_join" -> antiJoin,
    "q8_window" -> windowFuncs,
    "q9_topk" -> topK,
    "q10_setops" -> setOps,
    "q11_rollup" -> rollupAgg,
    "q12_dedup_latest" -> dedupLatest,
    "q13_dup_keys" -> dupKeys,
    "q14_uniqueness" -> uniquenessScore,
    "q15_json" -> jsonExtract,
    "q16_time_window" -> timeWindow,
    "q17_csv_roundtrip" -> csvRoundtrip,
    "q18_approx_distinct" -> aggApprox,
    "q237_approx_percentile" -> aggApproxPercentile)
}
