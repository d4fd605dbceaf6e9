package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.core.OracleArith._
import graft.functions.TextFunctions
import graft.operators.{AsOfJoin, Scd2}

/** Remaining SURVEY §2 inventory entries exposed through the correctness
  * gate: SCD2 snapshots (S8), the rolling trend-compliance check (§2.8
  * window), and heuristic language-ID (north-star text op).
  */
object Extra {

  /** SCD2 validity intervals over per-user event versions (S8). */
  private val scd2Snapshot = QueryDef(
    (s, dir) =>
      Scd2.buildSnapshot(
        Tables.events(s, dir).select("user_id", "event_id", "ts", "event_type"),
        keyCols = Seq("user_id"), tsCol = "ts", tieBreak = Seq("event_id"))
        .select("user_id", "event_id", "version", "valid_from", "valid_to", "is_current")
        .orderBy("user_id", "version"),
    """SELECT user_id, event_id,
      |  ROW_NUMBER() OVER w AS version,
      |  ts AS valid_from,
      |  LEAD(ts, 1) OVER w AS valid_to,
      |  LEAD(ts, 1) OVER w IS NULL AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin)

  /** q171: incremental SCD2 merge (Scd2.applyUpdates) — snapshot the first
    * 20 days of events, merge the remainder as an update batch, and merge
    * that SAME batch a second time (redelivery). The result must equal a
    * full rebuild over all events, which is exactly q19's oracle: the
    * incremental path can never drift from the rebuild, and a retried
    * batch is a no-op.
    */
  private val scd2Merge = QueryDef(
    (s, dir) => {
      val events = Tables.events(s, dir)
        .select("user_id", "event_id", "ts", "event_type")
      val cutoff = events.agg(
        date_add(min(col("ts")).cast("date"), 20).as("c")).collect().head.getDate(0)
      val early = events.filter(col("ts").cast("date") < lit(cutoff))
      val late = events.filter(col("ts").cast("date") >= lit(cutoff))
      val snap0 = Scd2.buildSnapshot(early, Seq("user_id"), "ts", Seq("event_id"))
      val snap1 = Scd2.applyUpdates(snap0, late, Seq("user_id"), "ts", Seq("event_id"))
      Scd2.applyUpdates(snap1, late, Seq("user_id"), "ts", Seq("event_id"))
        .select("user_id", "event_id", "version", "valid_from", "valid_to",
          "is_current")
        .transform(d => graft.core.QueryDef.orderedOut(d, "user_id", "version"))
    },
    """SELECT user_id, event_id,
      |  ROW_NUMBER() OVER w AS version,
      |  ts AS valid_from,
      |  LEAD(ts, 1) OVER w AS valid_to,
      |  LEAD(ts, 1) OVER w IS NULL AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin)

  /** q172: the model-DAG runner proper (§3 E3 dbt semantics) — a 3-model
    * bronze→silver→gold chain DECLARED IN SCRAMBLED ORDER (gold first), so
    * only the topological sort can make it build: each model reads its
    * upstream's target table, and the gold read-back equals the oracle's
    * composed SQL. Closes the one ModelGraph path q79 doesn't drive
    * (multi-model dependency ordering; q79 exercises the incremental
    * high-watermark on a single model).
    */
  private val modelDag = QueryDef(
    (s, dir) => {
      val bron = graft.core.Housekeeping.scratchTable(s, "gate_dag_bronze")
      val silv = graft.core.Housekeeping.scratchTable(s, "gate_dag_silver")
      val gold = graft.core.Housekeeping.scratchTable(s, "gate_dag_gold")
      Seq(bron, silv, gold).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      Tables.orders(s, dir).createOrReplaceTempView("gate_dag_orders")
      val models = Seq( // scrambled on purpose: gold, bronze, silver
        graft.models.Model.sql("gold", gold,
          s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
             |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
             |FROM $silv GROUP BY o_orderpriority""".stripMargin,
          deps = Seq("silver")),
        graft.models.Model.sql("bronze", bron,
          """SELECT o_orderkey, o_orderpriority, o_totalprice
            |FROM gate_dag_orders WHERE o_totalprice > 0""".stripMargin),
        graft.models.Model.sql("silver", silv,
          s"""SELECT o_orderkey, o_orderpriority FROM $bron
             |WHERE o_orderkey % 3 <> 0""".stripMargin,
          deps = Seq("bronze")))
      val runs = new graft.models.ModelGraph(models,
        graft.sources.ParquetTableFormat).run(s)
      require(runs.forall(_.ok), s"model DAG run failed: $runs")
      s.table(gold).orderBy("o_orderpriority")
    },
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_totalprice > 0 AND o_orderkey % 3 <> 0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Rolling trend compliance (reference
    * test_insurance_data_quality.py:269-289): fraction of consecutive
    * per-customer orders whose price holds ≥80% of the previous one.
    */
  private val rollingTrend = QueryDef(
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, dir)
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .filter(col("prev_price").isNotNull)
        .agg(
          avg(when(col("o_totalprice") >= col("prev_price") * 0.8, 1.0).otherwise(0.0))
            .as("compliance"),
          count(lit(1)).as("n_pairs"))
    },
    """SELECT AVG(CASE WHEN o_totalprice >= prev_price * 0.8 THEN 1.0 ELSE 0.0 END) AS compliance,
      |  COUNT(*) AS n_pairs
      |FROM (SELECT o_totalprice,
      |        LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
      |      FROM orders)
      |WHERE prev_price IS NOT NULL""".stripMargin)

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "et"))

  private def sqlHits(stops: Seq[String]): String =
    s"len(list_filter(string_split(trim(text), ' '), t -> t IN (${stops.map(w => s"'$w'").mkString(",")})))"

  /** Heuristic language-ID: argmax of per-language stopword hits (first
    * profile wins ties; 'und' when nothing matches), tallied per tag.
    */
  private val langId = QueryDef(
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("lang_guess",
          TextFunctions.languageId(col("text"), langProfiles))
        .groupBy("lang", "lang_guess")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "lang_guess"),
    s"""WITH scored AS (
       |  SELECT lang, ${langProfiles.map { case (l, st) => s"${sqlHits(st)} AS hits_$l" }.mkString(", ")}
       |  FROM documents),
       |guessed AS (
       |  SELECT lang,
       |    CASE WHEN greatest(${langProfiles.map("hits_" + _._1).mkString(", ")}) = 0 THEN 'und'
       |         ${langProfiles.map { case (l, _) =>
                   s"WHEN hits_$l = greatest(${langProfiles.map("hits_" + _._1).mkString(", ")}) THEN '$l'"
                 }.mkString(" ")}
       |    END AS lang_guess
       |  FROM scored)
       |SELECT lang, lang_guess, COUNT(*) AS n_docs
       |FROM guessed GROUP BY lang, lang_guess
       |ORDER BY lang, lang_guess""".stripMargin)

  /** q26 and q219 (one query under two names): each purchase event
    * matched to the user's most recent prior view through the native
    * as-of join (AsOfJoinNode → AsOfJoinStrategy → AsOfJoinPlan's per-side
    * shuffle + in-partition sort + streaming merge), so the whole custom
    * SparkPlan is hash-verified against DuckDB's `ASOF LEFT JOIN`. Right
    * side pre-aggregated to one row per (user, ts) so tie order cannot
    * leak nondeterminism (the operator's documented contract).
    */
  private val asofJoin = QueryDef(
    (s, dir) => {
      val events = Tables.events(s, dir)
      val purchases = events.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = events.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("value")).as("v_value"))
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("v_value"))
      AsOfJoin.joinAsOf(purchases, views, key = "user_id",
        leftTs = "ts", rightKey = "v_user", rightTs = "v_ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("v_ts").as("view_ts"), col("v_value").as("view_value"))
        .orderBy("event_id")
    },
    """WITH views AS (SELECT user_id, ts, max(value) AS v_value FROM events
      |               WHERE event_type = 'view' GROUP BY 1, 2),
      |purchases AS (SELECT event_id, user_id, ts FROM events
      |              WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts, v.ts AS view_ts, v.v_value AS view_value
      |FROM purchases p ASOF LEFT JOIN views v
      |  ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin)

  /** q221: the native as-of join's FULL surface — multi-column keys
    * (user_id, calendar day) and the FORWARD direction: each purchase
    * matched to the user's EARLIEST error at-or-after it within the same
    * day (the "did this purchase precede a failure" shape). Oracle is
    * DuckDB's own multi-key forward `ASOF LEFT JOIN ... e.ts >= p.ts`, so
    * the whole forward merge path (peek-don't-consume head, same-day key
    * fencing) is hash-verified end to end. Right side pre-aggregated per
    * (user, ts) as in q219 so tie order cannot leak nondeterminism.
    */
  private val asofForward = QueryDef(
    (s, dir) => {
      val events = Tables.events(s, dir)
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          date_trunc("day", col("ts")).as("day"), col("ts"))
      val errors = events.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("e_value"))
        .select(col("user_id").as("e_user"),
          date_trunc("day", col("ts")).as("e_day"),
          col("ts").as("e_ts"), col("e_value"))
      AsOfJoin.joinAsOf(purchases, errors,
          keys = Seq("user_id", "day"), leftTs = "ts",
          rightKeys = Seq("e_user", "e_day"), rightTs = "e_ts",
          direction = graft.plans.AsOfForward)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("e_ts").as("error_ts"), col("e_value").as("error_value"))
        .orderBy("event_id")
    },
    """WITH errors AS (SELECT user_id, date_trunc('day', ts) AS day, ts,
      |                  max(value) AS e_value
      |                FROM events WHERE event_type = 'error' GROUP BY 1, 2, 3),
      |purchases AS (SELECT event_id, user_id, date_trunc('day', ts) AS day, ts
      |              FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts, e.ts AS error_ts, e.e_value AS error_value
      |FROM purchases p ASOF LEFT JOIN errors e
      |  ON p.user_id = e.user_id AND p.day = e.day AND e.ts >= p.ts
      |ORDER BY p.event_id""".stripMargin)

  /** q222: the native as-of join's TOLERANCE bound — each purchase matched
    * to the user's most recent prior view only when it is at most one hour
    * old (the staleness cutoff every production as-of enrichment carries).
    * DuckDB's ASOF JOIN has no tolerance clause, so the oracle replays the
    * equivalent windowed max: the greatest view ts in [p.ts − 1h, p.ts]
    * (the in-window set is a suffix, so nearest-in-window = nearest
    * overall when in window — the exec's post-check equivalence).
    */
  private val asofTolerance = QueryDef(
    (s, dir) => {
      val events = Tables.events(s, dir)
      val purchases = events.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = events.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("value")).as("v_value"))
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("v_value"))
      AsOfJoin.joinAsOf(purchases, views,
          keys = Seq("user_id"), leftTs = "ts",
          rightKeys = Seq("v_user"), rightTs = "v_ts",
          direction = graft.plans.AsOfBackward,
          toleranceUs = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("v_ts").as("view_ts"), col("v_value").as("view_value"))
        .orderBy("event_id")
    },
    """WITH views AS (SELECT user_id, ts, max(value) AS v_value FROM events
      |               WHERE event_type = 'view' GROUP BY 1, 2),
      |purchases AS (SELECT event_id, user_id, ts FROM events
      |              WHERE event_type = 'purchase'),
      |best AS (SELECT p.event_id, max(v.ts) AS view_ts
      |         FROM purchases p JOIN views v
      |           ON p.user_id = v.user_id AND v.ts <= p.ts
      |              AND v.ts >= p.ts - INTERVAL 1 HOUR
      |         GROUP BY p.event_id)
      |SELECT p.event_id, p.user_id, p.ts, b.view_ts, v.v_value AS view_value
      |FROM purchases p
      |LEFT JOIN best b ON p.event_id = b.event_id
      |LEFT JOIN views v ON v.user_id = p.user_id AND v.ts = b.view_ts
      |ORDER BY p.event_id""".stripMargin)

  /** q245: POINT-IN-TIME enrichment — the feature-store training join:
    * each order picks up the customer-balance attribute from the SCD2
    * version VALID AT o_orderdate, never a later one (using today's
    * value for yesterday's label is the classic leakage bug this
    * operator exists to prevent). Because SCD2 versions tile time, "the
    * version whose interval contains t" IS "the latest version with
    * valid_from ≤ t", so the whole interval-membership join rides the
    * native as-of exec (one exchange per side, O(left+right) merge —
    * q219's plan) instead of a range join. The dimension history is a
    * deterministic three-version synthesis (base balance from
    * 1992-01-01; +1000 from 1994-06-15 for every 7th customer; +3000
    * from 1996-03-01 for every 21st), and the oracle is DuckDB's own
    * ASOF JOIN over the identically synthesized history — row-level
    * hash equality across every order.
    */
  private val pitEnrich = QueryDef(
    (s, dir) => {
      val c = Tables.customer(s, dir).select("c_custkey", "c_acctbal")
      def version(flt: org.apache.spark.sql.Column, from: String,
          bump: Double) =
        c.filter(flt).select(col("c_custkey").as("d_key"),
          to_timestamp(lit(from)).as("d_from"),
          (col("c_acctbal") + bump).as("d_bal"))
      val hist = version(lit(true), "1992-01-01", 0.0)
        .unionByName(version(col("c_custkey") % 7 === 0, "1994-06-15", 1000.0))
        .unionByName(version(col("c_custkey") % 21 === 0, "1996-03-01", 3000.0))
      val facts = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          to_timestamp(col("o_orderdate")).as("ots"))
      AsOfJoin.joinAsOf(facts, hist, key = "o_custkey",
          leftTs = "ots", rightKey = "d_key", rightTs = "d_from")
        .select(col("o_orderkey"), col("d_from").as("pit_from"),
          col("d_bal").as("pit_bal"))
        .orderBy("o_orderkey")
    },
    """WITH hist AS (
      |  SELECT c_custkey, TIMESTAMP '1992-01-01' AS vts, c_acctbal AS bal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, TIMESTAMP '1994-06-15', c_acctbal + 1000.0
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey, TIMESTAMP '1996-03-01', c_acctbal + 3000.0
      |  FROM customer WHERE c_custkey % 21 = 0)
      |SELECT o_orderkey, h.vts AS pit_from, h.bal AS pit_bal
      |FROM orders o ASOF LEFT JOIN hist h
      |  ON o.o_custkey = h.c_custkey
      |     AND h.vts <= CAST(o.o_orderdate AS TIMESTAMP)
      |ORDER BY o_orderkey""".stripMargin)

  /** CUBE aggregation (SURVEY §2.4 A9's second half): all grouping-set
    * combinations of status × priority. SQL path for the same
    * ambiguity-check reason as q11_rollup.
    */
  private val cubeAgg = QueryDef(
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders_cube")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(grouping_id() AS INT) AS gid
        |FROM graft_orders_cube
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },
    """SELECT o_orderstatus, o_orderpriority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  GROUPING(o_orderstatus, o_orderpriority) AS gid
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** Exact interpolated percentiles per group (median & quartiles) —
    * Spark `percentile` and DuckDB `quantile_cont` share the
    * sort-and-interpolate definition.
    */
  private val percentiles = QueryDef(
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        // ONE percentile aggregate with an array of fractions instead of
        // three scalar percentile() calls: the exact-percentile aggregate
        // buffers EVERY value's count, so the scalar form built (and
        // shuffled) three identical per-group value histograms — the array
        // form builds one and reads three interpolation points off the
        // same sorted counts, bit-identical values (guide §2.3: shuffle
        // fewer bytes; the partial-agg exchange carries a third the state)
        .agg(
          expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))").as("__ps"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"),
          element_at(col("__ps"), 1).as("p25"),
          element_at(col("__ps"), 2).as("p50"),
          element_at(col("__ps"), 3).as("p75"),
          col("n"))
        .orderBy("o_orderstatus"),
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.25) AS p25,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.75) AS p75,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin)

  /** Salted two-phase aggregation (hot-key mitigation): the oracle is the
    * plain GROUP BY it must be indistinguishable from.
    */
  private val saltedAgg = QueryDef(
    (s, dir) =>
      graft.operators.Skew.saltedAggregate(
        Tables.lineitem(s, dir), Seq("l_returnflag"), buckets = 16,
        partialAggs = Seq(
          sum(dec2(col("l_quantity"))).as("pq"),
          count(lit(1)).as("pn")),
        finalAggs = Seq(
          sum(col("pq")).cast("double").as("sum_qty"),
          sum(col("pn")).as("n")))
        .orderBy("l_returnflag"),
    s"""SELECT l_returnflag, ${sqlSumDec("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Binned range join: orders matched to uneven price bands via the
    * bin-explode equi-join (hash join, not nested loop), aggregated per
    * band. Oracle is DuckDB's native interval join over the same VALUES.
    */
  private val rangeJoin = QueryDef(
    (s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("micro", 0.0, 2000.0), ("small", 2000.0, 10000.0),
        ("mid", 10000.0, 50000.0), ("large", 50000.0, 150000.0),
        ("jumbo", 150000.0, 500000.0)).toDF("band", "lo", "hi")
      graft.operators.RangeJoin.binnedPointInInterval(
        Tables.orders(s, dir), "o_totalprice", bands, "lo", "hi",
        binWidth = 10000.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("total"))
        .orderBy("band")
    },
    s"""SELECT band, COUNT(*) AS n, ${sqlSumDec("o_totalprice")} AS total
       |FROM orders
       |JOIN (VALUES ('micro', 0.0, 2000.0), ('small', 2000.0, 10000.0),
       |             ('mid', 10000.0, 50000.0), ('large', 50000.0, 150000.0),
       |             ('jumbo', 150000.0, 500000.0)) AS bands(band, lo, hi)
       |  ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY band ORDER BY band""".stripMargin)

  /** Pivot: order counts and totals per priority, statuses as columns
    * (explicit value list keeps the output schema static — the only sane
    * pivot at scale).
    */
  private val pivotAgg = QueryDef(
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("O" -> "n_o", "F" -> "n_f", "P" -> "n_p"))
        .orderBy("o_orderpriority"),
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Unpivot/melt: part attributes to (p_partkey, attr, value) long form. */
  private val unpivotMelt = QueryDef(
    (s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
          "attr", "value")
        .orderBy("p_partkey", "attr"),
    """SELECT p_partkey, attr, value FROM (
      |  SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS value FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'retailprice', p_retailprice FROM part)
      |ORDER BY p_partkey, attr""".stripMargin)

  /** Composed pretraining-corpus pipeline: exact-dedup → quality filter →
    * language stats — the end-to-end document flow as one declarative plan
    * (each stage is the same library op the standalone queries use).
    */
  private val corpusPipeline = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val deduped = graft.operators.TextDedup.dropExactDuplicates(docs, "doc_id", "text")
      val kept = deduped.filter(
        TextFunctions.qualityScore(col("text"), Seq("the", "a", "of", "and", "data")) >= 2.0 / 3.0)
      kept
        .withColumn("lang_guess", TextFunctions.languageId(col("text"), langProfiles))
        .groupBy("lang_guess")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"))
        .orderBy("lang_guess")
    },
    s"""WITH deduped AS (
       |  SELECT * FROM documents WHERE doc_id IN (
       |    SELECT MIN(doc_id) FROM documents
       |    GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))))),
       |kept AS (
       |  SELECT * FROM deduped WHERE
       |    ((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
       |     + (CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
       |             t -> t IN ('the','a','of','and','data'))) AS DOUBLE)
       |             / len(string_split(trim(text), ' ')) > 0.0 THEN 1.0 ELSE 0.0 END)
       |     + (CASE WHEN CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
       |             / len(string_split(trim(text), ' ')) BETWEEN 2.0 AND 12.0
       |        THEN 1.0 ELSE 0.0 END)) / 3.0 >= 2.0/3.0),
       |guessed AS (
       |  SELECT text,
       |    CASE WHEN greatest(${langProfiles.map(p => sqlHits(p._2)).mkString(", ")}) = 0 THEN 'und'
       |         ${langProfiles.map { case (l, st) =>
                   s"WHEN ${sqlHits(st)} = greatest(${langProfiles.map(p => sqlHits(p._2)).mkString(", ")}) THEN '$l'"
                 }.mkString(" ")}
       |    END AS lang_guess
       |  FROM kept)
       |SELECT lang_guess, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
       |FROM guessed GROUP BY lang_guess ORDER BY lang_guess""".stripMargin)

  /** Top-k per group: 3 highest-revenue parts per brand (window rank —
    * the partial-topk-per-partition shape).
    */
  private val topKPerGroup = QueryDef(
    (s, dir) => {
      val w = Window.partitionBy("p_brand").orderBy(desc("revenue"), asc("l_partkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "l_partkey")
        .agg(sumDec(col("l_extendedprice")).as("revenue"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .transform(d => graft.core.QueryDef.orderedOut(d, "p_brand", "rk"))
    },
    s"""SELECT p_brand, l_partkey, revenue, rk FROM (
       |  SELECT p_brand, l_partkey, revenue,
       |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, l_partkey ASC) AS rk
       |  FROM (SELECT p_brand, l_partkey, ${sqlSumDec("l_extendedprice")} AS revenue
       |        FROM lineitem JOIN part ON l_partkey = p_partkey
       |        GROUP BY p_brand, l_partkey))
       |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin)

  /** Scalar subquery: customers above the global average balance. */
  private val scalarSubquery = QueryDef(
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("graft_cust_sub")
      // avg as exact-decimal sum / count surfaced as double: AVG(DECIMAL)
      // result types differ between engines, this form is bit-identical
      s.sql("""SELECT c_custkey, c_acctbal
        |FROM graft_cust_sub
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |                   FROM graft_cust_sub)
        |ORDER BY c_custkey""".stripMargin)
    },
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |                   FROM customer)
      |ORDER BY c_custkey""".stripMargin)

  /** Calendar decomposition: orders per (year, quarter, day-of-week). */
  private val dateParts = QueryDef(
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofweek(col("o_orderdate")).as("dow"))
        .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("total"))
        .orderBy("yr", "qtr", "dow"),
    s"""SELECT date_part('year', o_orderdate) AS yr,
       |  date_part('quarter', o_orderdate) AS qtr,
       |  date_part('dow', o_orderdate) + 1 AS dow,
       |  COUNT(*) AS n, ${sqlSumDec("o_totalprice")} AS total
       |FROM orders GROUP BY 1, 2, 3 ORDER BY yr, qtr, dow""".stripMargin)

  /** Sketch-based statistics at 100 TB scale: approximate percentiles +
    * HLL distinct per group. Sketch internals are engine-specific, but the
    * accuracy claims replay: the run's estimates become oracle literals
    * ([[graft.core.DynamicOracle]]) and DuckDB checks each — n must equal
    * its exact count, the HLL estimate must sit within 3x rsd of exact
    * COUNT(DISTINCT), and each percentile estimate must fall between the
    * exact rank-neighborhood quantiles (±2% rank, far wider than the
    * 1/accuracy=0.1% guarantee). Percentiles are projected to scalar
    * p50/p95 columns: the compare sorts the frame and cannot handle
    * array-typed cells.
    */
  private val approxStats = QueryDef(
    (s, dir) => {
      import graft.core.DynamicOracle.dbl
      val out = Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          expr("approx_percentile(o_totalprice, array(0.5, 0.95), 1000)").as("approx_p"),
          approx_count_distinct(col("o_custkey")).as("approx_customers"),
          count(lit(1)).as("n"))
        .select(
          col("o_orderstatus"),
          col("approx_p").getItem(0).as("p50"),
          col("approx_p").getItem(1).as("p95"),
          col("approx_customers"),
          col("n"))
        .orderBy("o_orderstatus")
      val rows = out.collect()
      val values = rows.map { r =>
        s"('${r.getString(0)}', ${dbl(r.getDouble(1))}, ${dbl(r.getDouble(2))}, " +
          s"CAST(${r.getLong(3)} AS BIGINT), CAST(${r.getLong(4)} AS BIGINT))"
      }.mkString(", ")
      graft.core.DynamicOracle.put("q36_approx_stats",
        s"""WITH est(o_orderstatus, p50, p95, approx_customers, n) AS
           |  (VALUES $values),
           |x AS (
           |  SELECT o_orderstatus,
           |    CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS ec,
           |    CAST(COUNT(*) AS BIGINT) AS en,
           |    quantile_disc(o_totalprice, 0.48) AS p50_lo,
           |    quantile_disc(o_totalprice, 0.52) AS p50_hi,
           |    quantile_disc(o_totalprice, 0.93) AS p95_lo,
           |    quantile_disc(o_totalprice, 0.97) AS p95_hi
           |  FROM orders GROUP BY 1)
           |SELECT e.o_orderstatus, e.p50, e.p95, e.approx_customers, e.n
           |FROM est e JOIN x USING (o_orderstatus)
           |WHERE e.n = x.en
           |  AND abs(CAST(e.approx_customers AS DOUBLE) - ec) / ec
           |        <= CAST('0.15' AS DOUBLE)
           |  AND e.p50 BETWEEN x.p50_lo AND x.p50_hi
           |  AND e.p95 BETWEEN x.p95_lo AND x.p95_hi
           |ORDER BY e.o_orderstatus""".stripMargin)
      graft.core.DynamicOracle.collected(out, rows)
    },
    None)

  /** RANGE-frame window: per customer, total order value within the
    * trailing 30 days of each order — event-time frames, not row counts.
    */
  private val rangeFrame = QueryDef(
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        // NTZ→TS is a no-op under the UTC session TZ; epoch seconds then
        // match DuckDB's epoch()
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0)
      Tables.orders(s, dir)
        .withColumn("trailing_30d_total",
          sum(dec2(col("o_totalprice"))).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "o_orderdate", "trailing_30d_total")
        .transform(d => graft.core.QueryDef.orderedOut(
          d, "o_custkey", "o_orderdate", "o_orderkey"))
    },
    s"""SELECT o_custkey, o_orderkey, o_orderdate,
       |  CAST(SUM(${sqlDec2("o_totalprice")}) OVER (
       |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
       |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS trailing_30d_total
       |FROM orders
       |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)

  /** Correlated aggregate subquery: orders above their own customer's
    * average order value.
    */
  private val correlatedSubquery = QueryDef(
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders_corr")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
        |FROM graft_orders_corr o
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM graft_orders_corr i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
    },
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |  FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin)

  /** Array-function bundle over embeddings: slicing, element access,
    * min/max/sort — the array surface beyond the vector-math kernels.
    */
  private val arrayOps = QueryDef(
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first"),
          element_at(col("embedding"), -1).cast("double").as("last"),
          array_min(col("embedding")).cast("double").as("mn"),
          array_max(col("embedding")).cast("double").as("mx"),
          element_at(array_sort(col("embedding")), 2).cast("double").as("second_smallest"),
          // sum over a slice: scalar output — array-typed result columns
          // don't hash comparably across engines
          aggregate(slice(col("embedding"), 1, 3), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("head3_sum"))
        .orderBy("vec_id"),
    """SELECT vec_id,
      |  len(embedding) AS dim,
      |  CAST(embedding[1] AS DOUBLE) AS first,
      |  CAST(embedding[-1] AS DOUBLE) AS last,
      |  CAST(list_min(embedding) AS DOUBLE) AS mn,
      |  CAST(list_max(embedding) AS DOUBLE) AS mx,
      |  CAST(list_sort(embedding)[2] AS DOUBLE) AS second_smallest,
      |  list_sum([CAST(x AS DOUBLE) for x in embedding[1:3]]) AS head3_sum
      |FROM embeddings ORDER BY vec_id""".stripMargin)

  /** String-function bundle incl. Levenshtein distance (the fuzzy-match
    * primitive for entity resolution) over customer names.
    */
  private val stringOps = QueryDef(
    (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          upper(col("c_name")).as("upper_name"),
          length(col("c_name")).as("name_len"),
          substring(col("c_name"), 1, 8).as("prefix"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded_key"),
          concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("tag"),
          levenshtein(col("c_name"), lit("Customer#000000001")).as("edit_dist"))
        .orderBy("c_custkey"),
    """SELECT c_custkey,
      |  upper(c_name) AS upper_name,
      |  length(c_name) AS name_len,
      |  substring(c_name, 1, 8) AS prefix,
      |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
      |  concat_ws('-', c_mktsegment, c_custkey) AS tag,
      |  levenshtein(c_name, 'Customer#000000001') AS edit_dist
      |FROM customer ORDER BY c_custkey""".stripMargin)

  /** MERGE/upsert + compaction through the TableFormat seam (§2.1 S3/S5
    * operational surface): base table, a delta of key-matched updates plus
    * brand-new keys, upsert, compact, read back — the q17 materialize-
    * then-read pattern, so what's compared is the real on-disk result of
    * the merge (each step publishes a new table version), not lineage. The
    * oracle replays the merge as anti-join + union.
    */
  private val upsertRoundtrip = QueryDef(
    (s, dir) => {
      val fmt = graft.sources.ParquetTableFormat
      val tbl = graft.core.Housekeeping.scratchTable(s, "gate_upsert")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val base = Tables.customer(s, dir).select(
        col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"))
      fmt.upsert(s, base, tbl, Seq("k")) // creates
      val delta = base.filter(col("k") % 10 === 0)
        .withColumn("acctbal", col("acctbal") + 1000.0)
        .unionByName(base.filter(col("k") <= 25).select(
          (col("k") + 1000000L).as("k"),
          concat(lit("new_"), col("k").cast("string")).as("name"),
          lit(42.5).as("acctbal")))
      fmt.upsert(s, delta, tbl, Seq("k")) // merges
      fmt.compact(s, tbl, targetFiles = 4)
      fmt.read(s, tbl).orderBy("k")
    },
    """WITH base AS (SELECT c_custkey AS k, c_name AS name, c_acctbal AS acctbal FROM customer),
      |delta AS (
      |  SELECT k, name, acctbal + 1000.0 AS acctbal FROM base WHERE k % 10 = 0
      |  UNION ALL
      |  SELECT k + 1000000, 'new_' || CAST(k AS VARCHAR), 42.5 FROM base WHERE k <= 25),
      |merged AS (
      |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM delta)
      |  UNION ALL SELECT * FROM delta)
      |SELECT k, name, acctbal FROM merged ORDER BY k""".stripMargin)

  /** Incremental model materialization through ModelGraph (§2.1 S5): first
    * run materializes the early half of orders, the source then grows, and
    * the second run appends only rows past the o_orderdate high-watermark.
    * Because batch one holds EVERY row below the cut, watermark append must
    * reconstruct exactly the full table — and the oracle's per-priority
    * counts over all of orders would catch both a missed increment (too few)
    * and a naive re-append (too many).
    */
  private val incrementalRoundtrip = QueryDef(
    (s, dir) => {
      val src = graft.core.Housekeeping.scratchTable(s, "gate_inc_src")
      val out = graft.core.Housekeeping.scratchTable(s, "gate_inc_out")
      s.sql(s"DROP TABLE IF EXISTS $src")
      s.sql(s"DROP TABLE IF EXISTS $out")
      val orders = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority", "o_orderdate")
      val fmt = graft.sources.ParquetTableFormat
      def graph = new graft.models.ModelGraph(Seq(graft.models.Model(
        "inc", out, build = s2 => s2.table(src),
        incrementalCol = Some("o_orderdate"))), fmt)
      fmt.overwrite(s, orders.filter(col("o_orderdate") < "1996-01-01"), src)
      graph.run(s)
      fmt.overwrite(s, orders, src) // source grows; early rows unchanged
      graph.run(s)
      s.table(out)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)

  /** Time-series gap filling: daily event counts per type with missing days
    * materialized as zero — the densification step before any
    * trend/seasonality model. The date spine comes from the data's own
    * min/max (sequence + explode), the type dimension from distinct — both
    * tiny broadcast sides; the daily aggregate partial-combines map-side, so
    * densifying 100 TB of events is one agg shuffle plus broadcast joins.
    */
  private val gapFill = QueryDef(
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("d"))
      val daily = e.groupBy("event_type", "d").agg(count(lit(1)).as("n_events"))
      val days = e.agg(min("d").as("lo"), max("d").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
      val types = e.select("event_type").distinct()
      types.crossJoin(broadcast(days))
        .join(daily, Seq("event_type", "d"), "left")
        .select(col("event_type"), col("d"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("event_type", "d")
    },
    """WITH RECURSIVE days(d) AS (
      |  SELECT (SELECT MIN(CAST(ts AS DATE)) FROM events)
      |  UNION ALL
      |  SELECT d + 1 FROM days WHERE d < (SELECT MAX(CAST(ts AS DATE)) FROM events)),
      |daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |types AS (SELECT DISTINCT event_type FROM events)
      |SELECT t.event_type, days.d, COALESCE(daily.n_events, 0) AS n_events
      |FROM types t CROSS JOIN days
      |LEFT JOIN daily ON daily.event_type = t.event_type AND daily.d = days.d
      |ORDER BY t.event_type, days.d""".stripMargin)

  /** Full-outer join (§2.5 widened): per-customer order counts for 1996 vs
    * 1997, keeping customers active in only one year (null on the other
    * side) — the reconcile-two-periods shape of drift reports.
    */
  private val fullOuter = QueryDef(
    (s, dir) => {
      val o = Tables.orders(s, dir)
      def yearCounts(y: Int, as: String) =
        o.filter(year(col("o_orderdate")) === y)
          .groupBy("o_custkey").agg(count(lit(1)).as(as))
      yearCounts(1996, "n_1996")
        .join(yearCounts(1997, "n_1997"), Seq("o_custkey"), "full_outer")
        .orderBy("o_custkey")
    },
    """SELECT o_custkey, n_1996, n_1997
      |FROM (SELECT o_custkey, COUNT(*) AS n_1996 FROM orders
      |      WHERE year(o_orderdate) = 1996 GROUP BY 1) a
      |FULL JOIN (SELECT o_custkey, COUNT(*) AS n_1997 FROM orders
      |      WHERE year(o_orderdate) = 1997 GROUP BY 1) b USING (o_custkey)
      |ORDER BY o_custkey""".stripMargin)

  /** Fixed-width histogram of order totals: explicit bin arithmetic
    * (`floor(x / width)`) spelled identically in both engines rather than a
    * `width_bucket` builtin (DuckDB has none; and builtin edge semantics
    * differ across engines). One map-side-combined aggregation.
    */
  private val histogram = QueryDef(
    (s, dir) =>
      Tables.orders(s, dir)
        .select((floor(col("o_totalprice") / 50000.0)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_orders"))
        .withColumn("bin_lo", col("bin") * 50000L)
        .select("bin", "bin_lo", "n_orders")
        .orderBy("bin"),
    """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
      |  CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000 AS bin_lo,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin)

  /** Explicit GROUPING SETS (§2.4 A9 beyond rollup/cube): the
    * (flag,status) / (flag) / () lattice with grouping_id, through the SQL
    * surface like the dbt-style models run.
    */
  private val groupingSets = QueryDef(
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .createOrReplaceTempView("graft_li_gsets")
      s.sql("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items,
        |  CAST(grouping_id() AS INT) AS gid
        |FROM graft_li_gsets
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    },
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSumDec("l_quantity")} AS sum_qty,
       |  COUNT(*) AS n_items,
       |  CAST(grouping_id(l_returnflag, l_linestatus) AS INTEGER) AS gid
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)

  /** Blocked fuzzy self-join (FuzzyJoin.blockedPairs): entity resolution by
    * edit distance within (p_type, p_size) blocks — never all-pairs; a
    * length-band filter and the bounded-DP levenshtein prune before the full
    * kernel. The gate aggregates pairs at distance 1..3 per type (distance-0
    * exact dups belong to exact dedup). Both engines implement classic
    * Levenshtein, so counts and distances match exactly.
    */
  private val fuzzyMatch = QueryDef(
    (s, dir) =>
      graft.operators.FuzzyJoin.blockedPairs(
        Tables.part(s, dir), "p_partkey", "p_name",
        Seq("p_type", "p_size"), maxDist = 3)
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("dist")).cast("long").as("total_dist"),
          min(col("dist")).cast("long").as("min_dist"),
          max(col("dist")).cast("long").as("max_dist"))
        .orderBy("p_type"),
    """WITH pr AS (
      |  SELECT x.p_type AS p_type, levenshtein(x.p_name, y.p_name) AS dist
      |  FROM part x JOIN part y
      |    ON x.p_type = y.p_type AND x.p_size = y.p_size
      |   AND x.p_partkey < y.p_partkey
      |   AND abs(length(x.p_name) - length(y.p_name)) <= 3
      |  WHERE levenshtein(x.p_name, y.p_name) BETWEEN 1 AND 3)
      |SELECT p_type, COUNT(*) AS n_pairs,
      |  CAST(SUM(dist) AS BIGINT) AS total_dist,
      |  CAST(MIN(dist) AS BIGINT) AS min_dist,
      |  CAST(MAX(dist) AS BIGINT) AS max_dist
      |FROM pr GROUP BY p_type ORDER BY p_type""".stripMargin)

  /** Fellegi–Sunter record-linkage scoring (RecordLinkage.classify) over
    * nation-blocked customer pairs: three calibrated field comparisons
    * (segment, balance band, name suffix) sum to a log-odds match
    * weight, thresholded into match/possible/non_match. Every weight is a
    * driver-computed literal inlined into BOTH engines (CAST AS DOUBLE so
    * DuckDB doesn't sum decimals) and the fold order is the declared
    * field order, so weights are bit-exact; the gate tallies each
    * decision band with its weight envelope.
    */
  private val linkageScore: QueryDef = {
    import graft.operators.RecordLinkage
    import graft.operators.RecordLinkage.FieldSpec
    // (m, u) pairs; agree columns are bound inside the query builder
    def fields = Seq(
      FieldSpec("seg", col("seg_a") === col("seg_b"), 0.9, 0.2),
      FieldSpec("bal", abs(col("bal_a") - col("bal_b")) < 500.0, 0.8, 0.3),
      FieldSpec("sfx", col("sx_a") === col("sx_b"), 0.7, 0.05))
    // weights are QUOTED so DuckDB's correctly-rounded string→double path
    // parses them: a bare 17-digit literal goes through DECIMAL first and
    // the decimal→double cast double-rounds one ulp off Java/strtod
    // (observed on 3.8073549220576037)
    def sqlCase(agreeExpr: String, f: FieldSpec): String =
      s"(CASE WHEN $agreeExpr THEN CAST('${f.agreeWeight}' AS DOUBLE) " +
        s"ELSE CAST('${f.disagreeWeight}' AS DOUBLE) END)"
    val Seq(fSeg, fBal, fSfx) = fields
    QueryDef(
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val a = c.select(col("c_custkey").as("id_a"), col("c_nationkey").as("nk"),
          col("c_mktsegment").as("seg_a"), col("c_acctbal").as("bal_a"),
          substring(col("c_name"), -1, 1).as("sx_a"))
        val b = c.select(col("c_custkey").as("id_b"), col("c_nationkey").as("nk"),
          col("c_mktsegment").as("seg_b"), col("c_acctbal").as("bal_b"),
          substring(col("c_name"), -1, 1).as("sx_b"))
        val pairs = a.join(b, Seq("nk")).filter(col("id_a") < col("id_b"))
        RecordLinkage.classify(pairs, fields, lower = -2.0, upper = 2.0)
          .groupBy("decision")
          .agg(count(lit(1)).as("n_pairs"),
            min(col("weight")).as("min_w"), max(col("weight")).as("max_w"))
          .orderBy("decision")
      },
      s"""WITH p AS (
         |  SELECT
         |    a.c_mktsegment = b.c_mktsegment AS ag_seg,
         |    abs(a.c_acctbal - b.c_acctbal) < 500.0 AS ag_bal,
         |    substring(a.c_name, -1, 1) = substring(b.c_name, -1, 1) AS ag_sfx
         |  FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
         |   AND a.c_custkey < b.c_custkey),
         |w AS (SELECT ${sqlCase("ag_seg", fSeg)}
         |           + ${sqlCase("ag_bal", fBal)}
         |           + ${sqlCase("ag_sfx", fSfx)} AS weight FROM p)
         |SELECT CASE WHEN weight >= 2.0 THEN 'match'
         |            WHEN weight <= -2.0 THEN 'non_match'
         |            ELSE 'possible' END AS decision,
         |  COUNT(*) AS n_pairs, MIN(weight) AS min_w, MAX(weight) AS max_w
         |FROM w GROUP BY 1 ORDER BY decision""".stripMargin)
  }

  /** q234: the COMPOSED Fellegi–Sunter pipeline as one plan — multi-rule
    * blocking (Splink-shaped union of equi-join passes: (nation, segment)
    * and (balance band, name suffix)), per-field literal-weight scoring,
    * three-way decision, summary — where q159 scores a single pre-blocked
    * frame. No stage materializes, so the probe rows for this gate measure
    * the candidate-pair volume (the pipeline's true cost driver) end to
    * end. Both blocking keys here have FIXED cardinality (≤125 and ≤1100
    * blocks), so uncapped pair volume grows quadratically — the 10× probe
    * measured ratio/M 2.04. The gate therefore runs with
    * `maxBlockSize = 15`: blocks over the cap degrade to
    * sorted-neighborhood windowed pairing (w = 8, ranked by id), which
    * the oracle replays via the same COUNT/ROW_NUMBER windows — at sf0.01
    * rule 1's largest blocks (up to 21 rows) exercise the windowed path
    * while rule 2 (max 6) stays exact, so BOTH branches are
    * oracle-checked. Weights are driver-computed log2 odds inlined as
    * quoted-cast literals; the oracle replays blocking UNION, fold order,
    * and thresholds exactly.
    */
  private val linkagePipeline: QueryDef = {
    import graft.operators.RecordLinkage
    import graft.operators.RecordLinkage.FieldSpec
    def fields = Seq(
      FieldSpec("seg", col("seg_a") === col("seg_b"), 0.9, 0.2),
      FieldSpec("bal", abs(col("bal_a") - col("bal_b")) < 500.0, 0.8, 0.3),
      FieldSpec("sfx", col("sx_a") === col("sx_b"), 0.7, 0.05),
      FieldSpec("p2", col("p2_a") === col("p2_b"), 0.85, 0.1))
    def sqlCase(agreeExpr: String, f: FieldSpec): String =
      s"(CASE WHEN $agreeExpr THEN CAST('${f.agreeWeight}' AS DOUBLE) " +
        s"ELSE CAST('${f.disagreeWeight}' AS DOUBLE) END)"
    val Seq(fSeg, fBal, fSfx, fP2) = fields
    QueryDef(
      (s, dir) =>
        RecordLinkage.pipeline(
          Tables.customer(s, dir), "c_custkey",
          attrs = Seq(
            "nk" -> col("c_nationkey"),
            "seg" -> col("c_mktsegment"),
            "bal" -> col("c_acctbal"),
            "sx" -> substring(col("c_name"), -1, 1),
            "p2" -> substring(col("c_name"), -2, 1),
            "band" -> floor(col("c_acctbal") / lit(100.0))),
          blockingRules = Seq(Seq("nk", "seg"), Seq("band", "sx")),
          fields, lower = -2.0, upper = 3.0,
          maxBlockSize = Some(15), overflowWindow = 8)
          .groupBy("decision")
          .agg(count(lit(1)).as("n_pairs"),
            min(col("weight")).as("min_w"), max(col("weight")).as("max_w"))
          .orderBy("decision"),
      s"""WITH c AS (
         |  SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS seg,
         |    c_acctbal AS bal, substring(c_name, -1, 1) AS sx,
         |    substring(c_name, -2, 1) AS p2,
         |    CAST(floor(c_acctbal / CAST('100.0' AS DOUBLE)) AS BIGINT) AS band
         |  FROM customer),
         |s1 AS (SELECT *, COUNT(*) OVER (PARTITION BY nk, seg) AS bn,
         |    ROW_NUMBER() OVER (PARTITION BY nk, seg ORDER BY id) AS rn
         |  FROM c),
         |s2 AS (SELECT *, COUNT(*) OVER (PARTITION BY band, sx) AS bn,
         |    ROW_NUMBER() OVER (PARTITION BY band, sx ORDER BY id) AS rn
         |  FROM c),
         |p AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    a.seg AS seg_a, b.seg AS seg_b, a.bal AS bal_a, b.bal AS bal_b,
         |    a.sx AS sx_a, b.sx AS sx_b, a.p2 AS p2_a, b.p2 AS p2_b
         |  FROM s1 a JOIN s1 b ON a.nk = b.nk AND a.seg = b.seg
         |  WHERE a.bn <= 15 AND a.id < b.id
         |  UNION
         |  SELECT a.id, b.id, a.seg, b.seg, a.bal, b.bal, a.sx, b.sx,
         |    a.p2, b.p2
         |  FROM s1 a JOIN s1 b ON a.nk = b.nk AND a.seg = b.seg
         |  WHERE a.bn > 15 AND b.rn BETWEEN a.rn + 1 AND least(a.rn + 8, a.bn)
         |  UNION
         |  SELECT a.id, b.id, a.seg, b.seg, a.bal, b.bal, a.sx, b.sx,
         |    a.p2, b.p2
         |  FROM s2 a JOIN s2 b ON a.band = b.band AND a.sx = b.sx
         |  WHERE a.bn <= 15 AND a.id < b.id
         |  UNION
         |  SELECT a.id, b.id, a.seg, b.seg, a.bal, b.bal, a.sx, b.sx,
         |    a.p2, b.p2
         |  FROM s2 a JOIN s2 b ON a.band = b.band AND a.sx = b.sx
         |  WHERE a.bn > 15 AND b.rn BETWEEN a.rn + 1 AND least(a.rn + 8, a.bn)),
         |w AS (SELECT ${sqlCase("seg_a = seg_b", fSeg)}
         |           + ${sqlCase("abs(bal_a - bal_b) < 500.0", fBal)}
         |           + ${sqlCase("sx_a = sx_b", fSfx)}
         |           + ${sqlCase("p2_a = p2_b", fP2)} AS weight FROM p)
         |SELECT CASE WHEN weight >= 3.0 THEN 'match'
         |            WHEN weight <= -2.0 THEN 'non_match'
         |            ELSE 'possible' END AS decision,
         |  COUNT(*) AS n_pairs, MIN(weight) AS min_w, MAX(weight) AS max_w
         |FROM w GROUP BY 1 ORDER BY decision""".stripMargin)
  }

  /** Snapshot diff (SnapshotDiff.diff): classify keys as added / removed /
    * changed / unchanged between today's orders snapshot and a
    * deterministically simulated next-day dump (drop every 101st key,
    * reprice every 97th, re-insert every 103rd under a shifted key) — the
    * CDC step for full-dump sources like the reference's CSV drops. One
    * full-outer join on the key; the gate tallies counts + key checksums
    * per change class.
    */
  /** q238: incremental view maintenance (IncrementalAgg) — refresh a
    * materialized revenue-by-(status, priority) aggregate from a CDC
    * delta WITHOUT rescanning the base: the plan sees only the base
    * STATE (group-sized) and the delta (delete every 101st order,
    * reprice every surviving 97th as delete+insert of price+500.00,
    * re-insert every 103rd), while the oracle recomputes the post-delta
    * aggregate FROM SCRATCH in DuckDB — hash equality IS the IVM
    * invariant (incremental ≡ full recompute), exact because counts are
    * ±1 longs and value sums exact DECIMAL, so delete contributions
    * cancel without float error. The +500.00 reprice is a double add on
    * identical inputs in both engines (no multiply-rounding divergence).
    */
  private val incrementalAgg = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      val o = Tables.orders(s, dir)
      val groups = Seq("o_orderstatus", "o_orderpriority")
      val sums = Seq("sum_price" -> "o_totalprice")
      val base = IncrementalAgg.state(o, groups, sums)
      val deleted = o.filter(col("o_orderkey") % 101 === 0)
        .withColumn("op", lit("delete"))
      val repricedOld = o.filter(col("o_orderkey") % 97 === 0 &&
          col("o_orderkey") % 101 =!= 0)
        .withColumn("op", lit("delete"))
      val repricedNew = repricedOld
        .withColumn("op", lit("insert"))
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      val inserted = o.filter(col("o_orderkey") % 103 === 0)
        .withColumn("op", lit("insert"))
      val delta = deleted.unionByName(repricedOld)
        .unionByName(repricedNew).unionByName(inserted)
        .select((Seq("op") ++ groups ++ Seq("o_totalprice")).map(col): _*)
      IncrementalAgg.refresh(base,
          IncrementalAgg.deltaState(delta, "op", groups, sums),
          groups, sums.map(_._1))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("n").as("n_orders"), col("sum_price").cast("double").as("sum_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },
    """WITH survivors AS (
      |  SELECT o_orderstatus, o_orderpriority,
      |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 500.0
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 101 <> 0
      |  UNION ALL
      |  SELECT o_orderstatus, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 103 = 0)
      |SELECT o_orderstatus, o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM survivors GROUP BY 1, 2
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)

  /** q240: the NON-invertible half of incremental view maintenance —
    * min/max cannot subtract a delete from a scalar, so the delta's
    * dirty groups (deletes from 1-URGENT, repriced inserts into
    * 3-MEDIUM: 6 of the 15 (status, priority) groups) are re-aggregated
    * from the post-apply base via a semi-join-restricted scan and
    * PATCHED over the untouched state rows, which never rescan. The
    * oracle recomputes every group's min/max from scratch in DuckDB —
    * hash equality proves the patch seam: a group wrongly marked clean
    * would surface a stale extreme.
    */
  private val incrementalMinMax = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      val o = Tables.orders(s, dir)
      val groups = Seq("o_orderstatus", "o_orderpriority")
      val aggs = Seq(min(col("o_totalprice")).as("min_p"),
        max(col("o_totalprice")).as("max_p"))
      val state = o.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
      val deletes = o.filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") % 3 === 0)
      val inserts = o.filter(col("o_orderpriority") === "3-MEDIUM" &&
          col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 50000.0)
      val delta = deletes.unionByName(inserts)
      val after = o.exceptAll(deletes).unionByName(inserts)
      val dirty = IncrementalAgg.dirtyGroups(delta, groups)
      val recomputed = IncrementalAgg.recomputeGroups(after, dirty, groups, aggs)
      IncrementalAgg.patch(state, recomputed, dirty, groups)
        .orderBy("o_orderstatus", "o_orderpriority")
    },
    """WITH after AS (
      |  SELECT o_orderstatus, o_orderpriority, o_totalprice FROM orders
      |  WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0)
      |  UNION ALL
      |  SELECT o_orderstatus, o_orderpriority, o_totalprice + 50000.0
      |  FROM orders
      |  WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 5 = 0)
      |SELECT o_orderstatus, o_orderpriority,
      |  MIN(o_totalprice) AS min_p, MAX(o_totalprice) AS max_p
      |FROM after GROUP BY 1, 2
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)

  /** q242: incremental maintenance of a JOIN view (IncrementalJoin) —
    * the materialized revenue-by-(segment, status) view over
    * customer ⋈ orders refreshed from CDC deltas on BOTH sides at once
    * (every 53rd customer switches segment; orders deleted / repriced /
    * re-inserted as in q238) via the three-term signed delta rule
    * ΔV = ΔR⋈S + R⋈ΔS + ΔR⋈ΔS. The plan only ever joins a delta side
    * against a base side — never recomputes the base join — and the
    * oracle recomputes the post-delta join-aggregate FROM SCRATCH in
    * DuckDB, so hash equality proves the algebra including the
    * cross-side cancellation term (a switched customer meeting a
    * repriced order must net exactly one −old +new pair).
    */
  private val incrementalJoin = QueryDef(
    (s, dir) => {
      import graft.operators.{IncrementalAgg, IncrementalJoin}
      val groups = Seq("seg", "o_orderstatus")
      val sums = Seq("sum_price" -> "o_totalprice")
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").as("k"), col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      val base = IncrementalAgg.state(c.join(o, Seq("k")), groups, sums)
      val switched = c.filter(col("k") % 53 === 0)
      val cDelta = switched.withColumn("op", lit("delete"))
        .unionByName(switched.withColumn("seg", lit("SWITCHED"))
          .withColumn("op", lit("insert")))
      val oRepOld = o.filter(col("o_orderkey") % 97 === 0 &&
          col("o_orderkey") % 101 =!= 0)
        .withColumn("op", lit("delete"))
      val oDelta = o.filter(col("o_orderkey") % 101 === 0)
        .withColumn("op", lit("delete"))
        .unionByName(oRepOld)
        .unionByName(oRepOld.withColumn("op", lit("insert"))
          .withColumn("o_totalprice", col("o_totalprice") + 500.0))
        .unionByName(o.filter(col("o_orderkey") % 103 === 0)
          .withColumn("op", lit("insert")))
      IncrementalAgg.refresh(base,
          IncrementalJoin.deltaJoinState(IncrementalJoin.positive(c), cDelta,
            IncrementalJoin.positive(o), oDelta, "op", Seq("k"), groups, sums),
          groups, sums.map(_._1))
        .select(col("seg"), col("o_orderstatus"), col("n").as("n_rows"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("seg", "o_orderstatus")
    },
    """WITH c2 AS (
      |  SELECT c_custkey AS k,
      |    CASE WHEN c_custkey % 53 = 0 THEN 'SWITCHED'
      |         ELSE c_mktsegment END AS seg
      |  FROM customer),
      |o2 AS (
      |  SELECT o_custkey AS k, o_orderstatus,
      |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 500.0
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 101 <> 0
      |  UNION ALL
      |  SELECT o_custkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 103 = 0)
      |SELECT seg, o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM o2 JOIN c2 USING (k)
      |GROUP BY 1, 2 ORDER BY seg, o_orderstatus""".stripMargin)

  /** Empty the view root `path` and commit `state` as its version 0: a
    * registered view is a [[graft.sources.VersionedTable]] root. Emptied
    * first because a commit of a version that exists is a replay and
    * skips, so an earlier pass's v0 would otherwise stay.
    */
  private def commitView(s: SparkSession, state: DataFrame, path: String): Unit = {
    graft.sources.VersionedTable.vacuum(s, path, keepFrom = Long.MaxValue)
    graft.sources.VersionedTable.commit(s, state, path, 0L)
  }

  /** q247: transparent materialized-view rewrite (MvRewrite, the read
    * half of the IVM family) — the gate materializes the
    * (status, priority) count/sum view, registers it for the orders
    * path, and then runs a PLAIN aggregate over the BASE table at a
    * COARSER grouping (status only): the optimizer answers it by
    * re-aggregating the group-sized view — counts sum, DECIMAL sums
    * reassociate exactly — and the plan never scans orders
    * (PlanShapeSpec pins that), while the oracle aggregates the base
    * table from scratch in DuckDB. Equality proves rewrite + roll-up
    * are exact, not just plausible.
    */
  private val mvRewrite = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      val groups = Seq("o_orderstatus", "o_orderpriority")
      val sums = Seq("sum_price" -> "o_totalprice")
      // the gate owns its base table (a copy of orders): registering the
      // SHARED orders path would also — correctly but opaquely — rewrite
      // any other gate whose aggregate happens to match the view shape
      // (q238's base state does); a private path keeps every other plan
      // untouched and mirrors production, where the registered base is a
      // specific table location
      val basePath = graft.core.Housekeeping.scratchDir(s, "mv_base")
      val viewPath = graft.core.Housekeeping.scratchDir(s, "mv_orders")
      // a previous bench pass of this gate left its registration live:
      // deregister BEFORE rewriting base/view parquet, or the rebuild's
      // own aggregate would be answered from the view it is overwriting
      graft.plans.MvRewrite.deregister(basePath)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").parquet(basePath)
      val o = s.read.parquet(basePath)
      commitView(s, IncrementalAgg.state(o, groups, sums), viewPath)
      graft.plans.MvRewrite.register(basePath, viewPath,
        groups, Map("o_totalprice" -> "sum_price"))
      o.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).as("sum_dec"))
        .select(col("o_orderstatus"), col("n_orders"),
          col("sum_dec").cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    },
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)

  /** q249: JOIN-view rewrite (MvRewrite.registerJoin) — the star-schema
    * capstone of the MV family: an aggregate over customer ⋈ orders is
    * answered from the maintained JOIN view (q242/q244's layout) at a
    * COARSER grouping, so the plan scans neither base table and never
    * executes the join at all. Matching requires the exact registered
    * equi-key pairs (orientation included) on an INNER join — anything
    * else stays on the base plan. Oracle: DuckDB runs the real join +
    * aggregate from scratch.
    */
  private val mvJoinRewrite = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      val groups = Seq("seg", "o_orderstatus")
      val sums = Seq("sum_price" -> "o_totalprice")
      val cPath = graft.core.Housekeeping.scratchDir(s, "mvj_cust")
      val oPath = graft.core.Housekeeping.scratchDir(s, "mvj_ord")
      val vPath = graft.core.Housekeeping.scratchDir(s, "mvj_view")
      // drop a previous pass's registration before the rebuild (same
      // overwrite-what-you-read hazard as q247)
      graft.plans.MvRewrite.deregisterJoin(cPath, oPath)
      Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        .write.mode("overwrite").parquet(cPath)
      Tables.orders(s, dir)
        .select(col("o_custkey").as("ok"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("overwrite").parquet(oPath)
      val c = s.read.parquet(cPath)
      val o = s.read.parquet(oPath)
      commitView(s,
        IncrementalAgg.state(c.join(o, col("k") === col("ok")), groups, sums),
        vPath)
      graft.plans.MvRewrite.registerJoin(s, cPath, oPath,
        Seq("k" -> "ok"), vPath, groups, Map("o_totalprice" -> "sum_price"))
      c.join(o, col("k") === col("ok"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec2(col("o_totalprice"))).as("sum_dec"))
        .select(col("seg"), col("n_rows"),
          col("sum_dec").cast("double").as("sum_price"))
        .orderBy("seg")
    },
    s"""SELECT c_mktsegment AS seg, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY seg""".stripMargin)

  /** q250: filtered-aggregate MV rewrite — the everyday BI shape
    * `WHERE status = 'F' GROUP BY priority` answered from the maintained
    * view: a predicate whose every column is a view GROUP column selects
    * whole groups, so it pushes onto the group-sized view scan exactly
    * (the predicate-subsumption case of Goldstein & Larson SIGMOD'01).
    * The plan scans only the view under the pushed filter (PlanShapeSpec
    * pins base absent + filter present) while the oracle filters and
    * aggregates the base table from scratch in DuckDB; MvRewriteSpec
    * carries the refusal twin (a non-group-column filter stays on base).
    */
  private val mvFilterRewrite = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      val groups = Seq("o_orderstatus", "o_orderpriority")
      val sums = Seq("sum_price" -> "o_totalprice")
      val basePath = graft.core.Housekeeping.scratchDir(s, "mvf_base")
      val viewPath = graft.core.Housekeeping.scratchDir(s, "mvf_view")
      // deregister before rebuilding base/view parquet (q247's discipline)
      graft.plans.MvRewrite.deregister(basePath)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice")
        .write.mode("overwrite").parquet(basePath)
      val o = s.read.parquet(basePath)
      commitView(s, IncrementalAgg.state(o, groups, sums), viewPath)
      graft.plans.MvRewrite.register(basePath, viewPath,
        groups, Map("o_totalprice" -> "sum_price"))
      o.filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).as("sum_dec"))
        .select(col("o_orderpriority"), col("n_orders"),
          col("sum_dec").cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)

  /** q251: min/max maintenance for a JOIN view — the non-invertible half
    * (q240's dirty-group patch) composed with two-sided join deltas
    * (q242's three-term structure): a view group is dirty when ANY of
    * ΔR⋈S, R⋈ΔS, ΔR⋈ΔS touches it — every joined row that enters or
    * leaves the view has a delta side, so the union is complete — and
    * dirty groups re-aggregate from the post-apply join restricted by a
    * semi-join while clean groups never rescan. The oracle recomputes
    * every group's min/max from scratch in DuckDB: a group wrongly
    * marked clean would surface a stale extreme and fail the hash.
    */
  private val joinMinMaxIvm = QueryDef(
    (s, dir) => {
      import graft.operators.{IncrementalAgg, IncrementalJoin}
      val groups = Seq("seg", "o_orderstatus")
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").as("k"), col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      val aggs = Seq(min(col("o_totalprice")).as("min_p"),
        max(col("o_totalprice")).as("max_p"))
      val state = c.join(o, Seq("k")).groupBy(groups.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      val moved = c.filter(col("k") % 59 === 0)
      val cDelta = moved.withColumn("op", lit("delete"))
        .unionByName(moved.withColumn("seg", lit("MOVED"))
          .withColumn("op", lit("insert")))
      val oDel = o.filter(col("o_orderkey") % 111 === 0)
      val oIns = o.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 90000.0)
      val oDelta = oDel.withColumn("op", lit("delete"))
        .unionByName(oIns.withColumn("op", lit("insert")))
      val cAfter = moved.withColumn("seg", lit("MOVED"))
        .unionByName(c.filter(col("k") % 59 =!= 0))
      val oAfter = o.exceptAll(oDel).unionByName(oIns)
      val dirty = IncrementalJoin.dirtyJoinGroups(c, cDelta, o, oDelta,
        "op", Seq("k"), groups)
      val recomputed = IncrementalAgg.recomputeGroups(
        cAfter.join(oAfter, Seq("k")), dirty, groups, aggs)
      IncrementalAgg.patch(state, recomputed, dirty, groups)
        .orderBy("seg", "o_orderstatus")
    },
    """WITH c2 AS (
      |  SELECT c_custkey AS k,
      |    CASE WHEN c_custkey % 59 = 0 THEN 'MOVED'
      |         ELSE c_mktsegment END AS seg
      |  FROM customer),
      |o2 AS (
      |  SELECT o_custkey AS k, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 111 <> 0
      |  UNION ALL
      |  SELECT o_custkey, o_orderstatus, o_totalprice + 90000.0
      |  FROM orders WHERE o_orderkey % 97 = 0)
      |SELECT seg, o_orderstatus,
      |  MIN(o_totalprice) AS min_p, MAX(o_totalprice) AS max_p
      |FROM o2 JOIN c2 USING (k)
      |GROUP BY 1, 2 ORDER BY seg, o_orderstatus""".stripMargin)

  /** q254: group-column filter over a registered JOIN view — the
    * star-schema dashboard shape `WHERE dim_attr = x GROUP BY fact_attr`
    * over customer ⋈ orders: the optimizer pushes the predicate below
    * the join onto the customer side, and the rewrite classifies every
    * side/top conjunct (inner-join-implied key IsNotNull → dropped,
    * group-column predicate → pushed onto the view, anything else →
    * refuse) so the plan scans only the group-sized view under the
    * pushed filter — no join, no base tables (PlanShapeSpec). Oracle:
    * DuckDB runs the real filtered join + aggregate from scratch.
    */
  private val mvJoinFilterRewrite = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      val groups = Seq("seg", "o_orderstatus")
      val sums = Seq("sum_price" -> "o_totalprice")
      val cPath = graft.core.Housekeeping.scratchDir(s, "mvjf_cust")
      val oPath = graft.core.Housekeeping.scratchDir(s, "mvjf_ord")
      val vPath = graft.core.Housekeeping.scratchDir(s, "mvjf_view")
      graft.plans.MvRewrite.deregisterJoin(cPath, oPath)
      Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        .write.mode("overwrite").parquet(cPath)
      Tables.orders(s, dir)
        .select(col("o_custkey").as("ok"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("overwrite").parquet(oPath)
      val c = s.read.parquet(cPath)
      val o = s.read.parquet(oPath)
      commitView(s,
        IncrementalAgg.state(c.join(o, col("k") === col("ok")), groups, sums),
        vPath)
      graft.plans.MvRewrite.registerJoin(s, cPath, oPath,
        Seq("k" -> "ok"), vPath, groups, Map("o_totalprice" -> "sum_price"))
      c.join(o, col("k") === col("ok"))
        .filter(col("seg").isin("BUILDING", "MACHINERY") &&
          col("o_orderstatus") =!= "P")
        .groupBy("seg", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec2(col("o_totalprice"))).as("sum_dec"))
        .select(col("seg"), col("o_orderstatus"), col("n_rows"),
          col("sum_dec").cast("double").as("sum_price"))
        .orderBy("seg", "o_orderstatus")
    },
    """SELECT c_mktsegment AS seg, o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      |  AND o_orderstatus <> 'P'
      |GROUP BY 1, 2 ORDER BY seg, o_orderstatus""".stripMargin)

  /** q255: incrementally maintained DISTINCT-COUNT view columns
    * (IncrementalDistinct) — COUNT(DISTINCT) is not distributive, but
    * its KMV synopsis is MERGEABLE under inserts (Beyer et al. SIGMOD
    * 2007), so the distinct-customers-per-priority view refreshes from
    * an insert batch by a sketch-sized array merge while delete-touched
    * groups (every 3rd 1-URGENT order) take the q240 dirty-group
    * recompute. Four groups ride the merge path, one the recompute path,
    * and the oracle recomputes EVERY group's bottom-256 sketch from the
    * post-delta base in DuckDB — the estimates are md5-family
    * bit-replayable, so hash equality proves both maintenance paths land
    * exactly where a full rebuild would.
    */
  private val ivmDistinct: QueryDef = {
    val k = 256
    val kmvC = (k - 1).toDouble * graft.operators.KmvSketch.HashSpace
    QueryDef(
      (s, dir) => {
        import graft.operators.IncrementalDistinct
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_orderpriority", "o_custkey")
        val view = IncrementalDistinct.state(o, "o_custkey",
          "o_orderpriority", k)
        val deletes = o.filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 3 === 0)
        val inserts = o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_custkey", col("o_custkey") + 1000000L)
        val after = o.exceptAll(deletes).unionByName(inserts)
        IncrementalDistinct.estimates(
            IncrementalDistinct.refresh(view, after, inserts, deletes,
              "o_custkey", "o_orderpriority", k),
            "o_orderpriority", k)
          .orderBy("o_orderpriority")
      },
      s"""WITH after AS (
        |  SELECT o_orderpriority, o_custkey FROM orders
        |  WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0)
        |  UNION ALL
        |  SELECT o_orderpriority, o_custkey + 1000000 FROM orders
        |  WHERE o_orderkey % 5 = 0),
        |dh AS (
        |  SELECT DISTINCT o_orderpriority AS g,
        |    CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM after WHERE o_custkey IS NOT NULL),
        |sk AS (
        |  SELECT g, h FROM (
        |    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
        |    FROM dh)
        |  WHERE rk <= $k),
        |agg AS (SELECT g, COUNT(*) AS n_mins, MAX(h) AS h_k FROM sk GROUP BY 1)
        |SELECT g AS o_orderpriority, n_mins,
        |  CASE WHEN n_mins < $k THEN CAST(n_mins AS DOUBLE)
        |       ELSE CAST('$kmvC' AS DOUBLE) / CAST(h_k AS DOUBLE)
        |       END AS kmv_estimate
        |FROM agg ORDER BY o_orderpriority""".stripMargin)
  }

  /** q253: the IVM story end to end — continuous maintenance COMPOSED
    * with transparent reads. The view's versioned state chain
    * (IvmStream's exactly-once layout: one VersionedTable version per
    * batch) is registered ONCE via MvRewrite.register; a CDC
    * batch then commits v1 — exactly the refresh maintainAggStream's
    * foreachBatch commits for batch 1 over v0 — and the SAME registration
    * answers the next base aggregate from v1: no re-register, no base
    * scan, no v0 (PlanShapeSpec pins all three). The state root is
    * emptied first: a commit of a version that exists is a replay and
    * skips, so an earlier pass's v1 would otherwise stay. The base
    * parquet is compacted to the post-delta snapshot (the registered
    * logical table advances with its view), so the gate value is
    * delta-consistent with or without the rewrite; the oracle recomputes
    * post-delta truth from scratch,
    * proving refresh + version resolution exact. MvRewriteSpec drives
    * the same resolution through commit/no-commit edges; IvmStreamSpec
    * from a real running stream.
    */
  private val mvVersionedRead = QueryDef(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      import graft.sources.VersionedTable
      val groups = Seq("o_orderstatus")
      val sums = Seq("sum_price" -> "o_totalprice")
      val basePath = graft.core.Housekeeping.scratchDir(s, "mvv_base")
      val stateRoot = graft.core.Housekeeping.scratchDir(s, "mvv_state")
      graft.plans.MvRewrite.deregister(basePath)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.write.mode("overwrite").parquet(basePath)
      commitView(s, IncrementalAgg.state(s.read.parquet(basePath), groups, sums),
        stateRoot)
      // register the state ROOT once, BEFORE the refresh lands — the
      // production reader never re-registers
      graft.plans.MvRewrite.register(basePath, stateRoot,
        groups, Map("o_totalprice" -> "sum_price"))
      // CDC batch 1: delete every 107th order, duplicate every 97th at
      // price+750 — refreshed against v0, the newest state below it
      val delta = o.filter(col("o_orderkey") % 107 === 0)
        .withColumn("op", lit("delete"))
        .unionByName(o.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 750.0)
          .withColumn("op", lit("insert")))
      VersionedTable.commit(s, IncrementalAgg.refresh(
          VersionedTable.read(s, stateRoot, 0L),
          IncrementalAgg.deltaState(delta, "op", groups, sums),
          groups, sums.map(_._1)), stateRoot, 1L)
      // compact the base to the post-delta snapshot (log-compaction
      // semantics: the registered logical table advanced with its view)
      o.filter(col("o_orderkey") % 107 =!= 0)
        .unionByName(o.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 750.0))
        .write.mode("overwrite").parquet(basePath)
      s.read.parquet(basePath).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).as("sum_dec"))
        .select(col("o_orderstatus"), col("n_orders"),
          col("sum_dec").cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    },
    """WITH after AS (
      |  SELECT o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 107 <> 0
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice + 750.0 FROM orders
      |  WHERE o_orderkey % 97 = 0)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM after GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)

  private val snapshotDiff = QueryDef(
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val neu = o.filter(col("o_orderkey") % 101 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 97 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 103 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      graft.operators.SnapshotDiff.diff(o, neu,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
        .orderBy("change_type")
    },
    """WITH neu AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 1.1
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 101 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 103 = 0),
      |d AS (
      |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
      |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
      |         WHEN n.o_orderkey IS NULL THEN 'removed'
      |         WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
      |          AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
      |         THEN 'unchanged' ELSE 'changed' END AS change_type
      |  FROM orders o FULL JOIN neu n ON o.o_orderkey = n.o_orderkey)
      |SELECT change_type, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS key_sum
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Sharded HyperLogLog distinct counting (DataSketches): per-(source,
    * shard) HLL sketches built independently, then merged per source with
    * `hll_union_agg` and estimated — the mergeable-sketch pattern that lets
    * 1000 executors count distincts with one tiny reduce instead of a
    * corpus shuffle, and lets sketches be persisted and unioned across
    * days. The sketch registers aren't SQL-reproducible in DuckDB
    * (different sketch impl), but the merged estimate's ACCURACY is: it
    * rides into the oracle as a literal ([[graft.core.DynamicOracle]]) and
    * DuckDB checks it against its own exact per-source COUNT(DISTINCT
    * text) within 3x the lgK=12 rse (1.04/sqrt(4096) ≈ 1.6%);
    * HllMergeSpec additionally pins the shard-merge = unsharded-sketch
    * invariant.
    */
  private val hllShardMerge = QueryDef(
    (s, dir) => {
      val sketches = Tables.documents(s, dir)
        .withColumn("shard",
          graft.operators.Sampling.hashBucket(col("doc_id"), 8))
        .groupBy("source", "shard")
        .agg(hll_sketch_agg(col("text")).as("sk"))
      val out = sketches.groupBy("source")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("approx_distinct_docs"))
        .orderBy("source")
      val rows = out.collect()
      val values = rows.map { r =>
        s"('${r.getString(0)}', CAST(${r.getLong(1)} AS BIGINT))"
      }.mkString(", ")
      graft.core.DynamicOracle.put("q101_hll_shard_merge",
        s"""WITH est(source, approx_distinct_docs) AS (VALUES $values),
           |x AS (
           |  SELECT source, CAST(COUNT(DISTINCT text) AS DOUBLE) AS ed
           |  FROM documents GROUP BY 1)
           |SELECT e.source, e.approx_distinct_docs
           |FROM est e JOIN x USING (source)
           |WHERE abs(CAST(e.approx_distinct_docs AS DOUBLE) - ed) / ed
           |        <= CAST('0.05' AS DOUBLE)
           |ORDER BY e.source""".stripMargin)
      graft.core.DynamicOracle.collected(out, rows)
    },
    None)

  /** q185: mergeable histogram-sketch quantiles — the quantile counterpart
    * of q101's HLL shard merge: per-shard fixed-bin histograms of document
    * length, merged by count addition, p50/p90/p99 interpolated off the
    * merged cumulative. UNLIKE the HLL gate this one is fully
    * oracle-exact: binning, merge, and interpolation are a fixed
    * integer/IEEE dag (quantile LITERALS ride in as quoted-string DOUBLE
    * casts — a bare 0.99 would run DuckDB's compare in DECIMAL).
    */
  private val histQuantiles = QueryDef(
    (s, dir) => {
      val sk = graft.operators.HistogramSketch.sketch(
        Tables.documents(s, dir)
          .withColumn("shard", (col("doc_id") % 4).cast("int")),
        "shard", "n_chars", lo = 0.0, hi = 600.0, nBins = 60)
      graft.operators.HistogramSketch.quantiles(
          graft.operators.HistogramSketch.merge(sk),
          Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 600.0, nBins = 60)
        .orderBy("q")
    },
    """WITH h AS (
      |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |    SELECT CAST(LEAST(GREATEST(
      |        FLOOR((CAST(n_chars AS DOUBLE) - CAST('0.0' AS DOUBLE))
      |          / CAST('10.0' AS DOUBLE)), CAST('0.0' AS DOUBLE)),
      |        CAST('59.0' AS DOUBLE)) AS INT) AS bin
      |    FROM documents WHERE n_chars IS NOT NULL)
      |  GROUP BY bin),
      |c AS (
      |  SELECT bin, cnt,
      |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_below,
      |    CAST(SUM(cnt) OVER () AS BIGINT) AS total
      |  FROM h),
      |t AS (
      |  SELECT c.*, q, q * CAST(total AS DOUBLE) AS target
      |  FROM c CROSS JOIN (VALUES (CAST('0.5' AS DOUBLE)),
      |    (CAST('0.9' AS DOUBLE)), (CAST('0.99' AS DOUBLE))) AS qs(q))
      |SELECT q,
      |  CAST('0.0' AS DOUBLE) + CAST('10.0' AS DOUBLE)
      |    * (CAST(bin AS DOUBLE)
      |      + (target - CAST(cum_below AS DOUBLE)) / CAST(cnt AS DOUBLE))
      |    AS estimate
      |FROM t
      |WHERE CAST(cum_below AS DOUBLE) < target
      |  AND target <= CAST(cum_below + cnt AS DOUBLE)
      |ORDER BY q""".stripMargin)

  /** Robust MAD outlier rule (Outliers.madOutliers): per-priority order
    * totals flagged at |x − median| > 3·MAD — the skew-immune drift/anomaly
    * quality check. Exact interpolated medians, so DuckDB's median()
    * reproduces every flag; the gate tallies flags and pins the per-group
    * median and MAD themselves.
    */
  private val madOutliers = QueryDef(
    (s, dir) =>
      graft.operators.Outliers.madOutliers(
        Tables.orders(s, dir).select("o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"), "o_totalprice", k = 3.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          first(col("median")).as("median"),
          first(col("mad")).as("mad"))
        .orderBy("o_orderpriority"),
    """WITH med AS (
      |  SELECT o_orderpriority, median(o_totalprice) AS med
      |  FROM orders GROUP BY 1),
      |dev AS (
      |  SELECT o.o_orderpriority, o.o_totalprice, m.med,
      |    abs(o.o_totalprice - m.med) AS dv
      |  FROM orders o JOIN med m USING (o_orderpriority)),
      |mad AS (
      |  SELECT o_orderpriority, median(dv) AS mad FROM dev GROUP BY 1)
      |SELECT d.o_orderpriority, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN abs(d.o_totalprice - d.med) > 3.0 * a.mad
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  any_value(d.med) AS median, any_value(a.mad) AS mad
      |FROM dev d JOIN mad a USING (o_orderpriority)
      |GROUP BY 1 ORDER BY d.o_orderpriority""".stripMargin)

  /** Interval overlap join (RangeJoin.binnedIntervalOverlap): two interval
    * relations deterministically derived from orders (validity windows in
    * epoch days), matched on overlap through bin-exploded equi-joins — a
    * hash join with arithmetic first-shared-bin dedup, never a nested loop.
    * The oracle runs the plain overlap-predicate join (DuckDB's IEJoin
    * handles oracle scale), pinning identical pair sets.
    */
  private val intervalOverlap = QueryDef(
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("d", datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
      val a = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("a_id"),
          col("d").cast("double").as("a_lo"),
          (col("d") + 1 + col("o_orderkey") % 7).cast("double").as("a_hi"))
      val b = o.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").as("b_id"),
          (col("d") - col("o_orderkey") % 5).cast("double").as("b_lo"),
          (col("d") - col("o_orderkey") % 5 + 1 + col("o_orderkey") % 3).cast("double").as("b_hi"))
      graft.operators.RangeJoin.binnedIntervalOverlap(
        a, "a_lo", "a_hi", b, "b_lo", "b_hi", binWidth = 4.0)
        .groupBy((col("a_hi") - col("a_lo")).cast("long").as("a_width"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a_id") + col("b_id")).cast("long").as("checksum"))
        .orderBy("a_width")
    },
    """WITH o AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d
      |  FROM orders),
      |a AS (
      |  SELECT o_orderkey AS a_id, CAST(d AS DOUBLE) AS a_lo,
      |    CAST(d + 1 + o_orderkey % 7 AS DOUBLE) AS a_hi
      |  FROM o WHERE o_orderkey % 10 = 0),
      |b AS (
      |  SELECT o_orderkey AS b_id, CAST(d - o_orderkey % 5 AS DOUBLE) AS b_lo,
      |    CAST(d - o_orderkey % 5 + 1 + o_orderkey % 3 AS DOUBLE) AS b_hi
      |  FROM o WHERE o_orderkey % 13 = 0)
      |SELECT CAST(a_hi - a_lo AS BIGINT) AS a_width, COUNT(*) AS n_pairs,
      |  CAST(SUM(a_id + b_id) AS BIGINT) AS checksum
      |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
      |GROUP BY 1 ORDER BY a_width""".stripMargin)

  /** Native top-k-per-group (plans.TopKPerGroupPlan through
    * TopK.perGroupNative): top-3 orders per priority by total price — one
    * hash exchange + per-group bounded heaps, NO sort (PlanShapeSpec
    * asserts the sort-free plan; q33 gates the window formulation of the
    * same shape). Ties break on the order key, so the oracle's ROW_NUMBER
    * reproduces the exact row set.
    */
  private val topkNative = QueryDef(
    (s, dir) =>
      graft.operators.TopK.perGroupNative(
        Tables.orders(s, dir)
          .select("o_orderpriority", "o_orderkey", "o_totalprice"),
        groupCol = "o_orderpriority", orderCol = "o_totalprice",
        tieCol = "o_orderkey", k = 3)
        .orderBy("o_orderpriority", "o_orderkey"),
    """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_orderpriority, o_orderkey""".stripMargin)

  /** q223: oracle-exact HyperLogLog (operators.HllMd5) — registers built
    * per (group, shard), merged by register max, estimated with the
    * bias-corrected raw / linear-counting branches. Two key domains in one
    * frame so BOTH estimator branches run: ~11k distinct orderkeys per
    * lineitem returnflag (raw branch, registers saturated) and 25 distinct
    * texts per documents source (linear-counting branch). Unlike the
    * engine-specific sketches q18/q36/q101 demonstrate, every step here —
    * md5 registers, the reg_idx-ordered float fold, ln — replays bitwise
    * in DuckDB; the exact distinct count rides along so the frame itself
    * documents the accuracy.
    */
  private val hllExactReplay: QueryDef = {
    import graft.operators.HllMd5
    QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir).filter(col("l_orderkey").isNotNull)
          .select(col("l_returnflag").as("grp"),
            col("l_orderkey").cast("string").as("k"),
            col("l_linenumber").cast("int").as("shard"))
        val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
          .select(col("source").as("grp"), col("text").as("k"),
            lit(0).as("shard"))
        val keys = li.unionByName(docs)
        // native-aggregate path (hll_md5_agg → hll_md5_union_agg →
        // hll_md5_estimate): 1 KB binary buffers per (grp, shard), merged
        // by register max — bit-equal to the relational sketch/merge/
        // estimate (HllMd5Spec), which is what the oracle replays
        val sharded = HllMd5.sketchAgg(keys, "k", Seq("grp", "shard"))
        val est = HllMd5.estimates(HllMd5.unionAgg(sharded, Seq("grp")),
          Seq("grp"))
        val exact = keys.groupBy("grp")
          .agg(countDistinct(col("k")).as("n_exact"))
        est.join(exact, "grp").orderBy("grp")
      },
      s"""WITH keys AS (
         |  SELECT l_returnflag AS grp, CAST(l_orderkey AS VARCHAR) AS k
         |  FROM lineitem WHERE l_orderkey IS NOT NULL
         |  UNION ALL
         |  SELECT source AS grp, text AS k FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT grp, CAST('0x' || substring(md5(k), 1, 15) AS BIGINT) AS h
         |      FROM keys),
         |reg AS (
         |  SELECT grp, h >> 50 AS reg_idx,
         |    MAX(CASE WHEN (h & ((CAST(1 AS BIGINT) << 50) - 1)) = 0 THEN 51
         |        ELSE 51 - length(bin(h & ((CAST(1 AS BIGINT) << 50) - 1))) END) AS r
         |  FROM h GROUP BY 1, 2),
         |est AS (
         |  SELECT grp, COUNT(*) AS m_used,
         |    list_sum(list(CAST('1.0' AS DOUBLE) /
         |      CAST(CAST(1 AS BIGINT) << r AS DOUBLE) ORDER BY reg_idx)) AS s_present
         |  FROM reg GROUP BY 1),
         |fin AS (
         |  SELECT grp, m_used, 1024 - m_used AS v_zero,
         |    CAST('${HllMd5.AlphaMM}' AS DOUBLE) /
         |      (s_present + CAST(1024 - m_used AS DOUBLE)) AS raw_est
         |  FROM est),
         |ex AS (SELECT grp, COUNT(DISTINCT k) AS n_exact FROM keys GROUP BY 1)
         |SELECT f.grp, f.m_used, f.v_zero,
         |  CASE WHEN f.raw_est <= CAST('${HllMd5.SmallRangeCutoff}' AS DOUBLE)
         |        AND f.v_zero > 0
         |       THEN CAST('1024.0' AS DOUBLE) *
         |         ln(CAST('1024.0' AS DOUBLE) / CAST(f.v_zero AS DOUBLE))
         |       ELSE f.raw_est END AS hll_estimate,
         |  ex.n_exact
         |FROM fin f JOIN ex USING (grp) ORDER BY grp""".stripMargin)
  }

  /** q226: sketch persistence — the "union yesterday's sketch into
    * today's" story end-to-end through STORAGE: per-(flag, shard) binary
    * HLL sketches are written to parquet, read back in a fresh scan, and
    * only then union-merged and estimated. Proves the register encoding
    * survives a write/read cycle byte-for-byte (the oracle recomputes the
    * whole estimate from RAW data — any drift through storage would break
    * the hash match) and that re-aggregation cost is sketch-sized: the
    * merge reads shards x 1 KB, never a data row.
    */
  private val sketchPersist: QueryDef = {
    import graft.operators.HllMd5
    QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir).filter(col("l_orderkey").isNotNull)
          .select(col("l_returnflag").as("grp"),
            col("l_orderkey").cast("string").as("k"),
            col("l_linenumber").cast("int").as("shard"))
        val path = graft.core.Housekeeping.scratchDir(s, "sketch_store")
        HllMd5.sketchAgg(li, "k", Seq("grp", "shard"))
          .write.mode("overwrite").parquet(path)
        val loaded = s.read.parquet(path)
        HllMd5.estimates(HllMd5.unionAgg(loaded, Seq("grp")), Seq("grp"))
          .orderBy("grp")
      },
      s"""WITH h AS (
         |  SELECT l_returnflag AS grp,
         |    CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
         |      AS BIGINT) AS h
         |  FROM lineitem WHERE l_orderkey IS NOT NULL),
         |reg AS (
         |  SELECT grp, h >> 50 AS reg_idx,
         |    MAX(CASE WHEN (h & ((CAST(1 AS BIGINT) << 50) - 1)) = 0 THEN 51
         |        ELSE 51 - length(bin(h & ((CAST(1 AS BIGINT) << 50) - 1))) END) AS r
         |  FROM h GROUP BY 1, 2),
         |est AS (
         |  SELECT grp, COUNT(*) AS m_used,
         |    list_sum(list(CAST('1.0' AS DOUBLE) /
         |      CAST(CAST(1 AS BIGINT) << r AS DOUBLE) ORDER BY reg_idx)) AS s_present
         |  FROM reg GROUP BY 1),
         |fin AS (
         |  SELECT grp, m_used, 1024 - m_used AS v_zero,
         |    CAST('${HllMd5.AlphaMM}' AS DOUBLE) /
         |      (s_present + CAST(1024 - m_used AS DOUBLE)) AS raw_est
         |  FROM est)
         |SELECT grp, m_used, v_zero,
         |  CASE WHEN raw_est <= CAST('${HllMd5.SmallRangeCutoff}' AS DOUBLE)
         |        AND v_zero > 0
         |       THEN CAST('1024.0' AS DOUBLE) *
         |         ln(CAST('1024.0' AS DOUBLE) / CAST(v_zero AS DOUBLE))
         |       ELSE raw_est END AS hll_estimate
         |FROM fin ORDER BY grp""".stripMargin)
  }

  /** q228: the remaining ranked-window surface in one gate — percent_rank,
    * cume_dist, first_value, nth_value(2) and defaulted lead over the
    * per-customer order timeline. percent_rank/cume_dist are exact
    * rational divisions of window counts (identical definitions in both
    * engines); the value functions pin the default running frame
    * semantics. Customers with a single order are excluded: both engines
    * define percent_rank there as 0/0-guarded zero, but pinning the
    * guarded edge adds nothing the ≥2 case doesn't.
    */
  private val windowSuite = QueryDef(
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("n_orders", count(lit(1)).over(Window.partitionBy("o_custkey")))
        .filter(col("n_orders") >= 2)
        .select(
          col("o_custkey"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first_value(col("o_totalprice")).over(w).as("first_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"),
          lead(col("o_totalprice"), 1, -1.0).over(w).as("next_price"))
        // materialize-before-global-sort (QueryDef.orderedOut): the range
        // sampler otherwise re-runs the window pipeline
        .transform(d => graft.core.QueryDef.orderedOut(
          d, "o_custkey", "o_orderkey"))
    },
    """WITH o AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
      |  FROM orders)
      |SELECT o_custkey, o_orderkey,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  nth_value(o_totalprice, 2) OVER w AS second_price,
      |  lead(o_totalprice, 1, -1.0) OVER w AS next_price
      |FROM o WHERE n_orders >= 2
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin)

  /** q229: correlated LATERAL join — per-nation top-2 customers by
    * account balance through a correlated subquery with ORDER BY + LIMIT,
    * the planner surface (DecorrelateInnerQuery → per-group limit) that
    * the window/native top-k gates never touch. Tie-broken on the key, so
    * both engines pick identical rows.
    */
  private val lateralTopk = QueryDef(
    (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("graft_q229_nation")
      Tables.customer(s, dir).createOrReplaceTempView("graft_q229_customer")
      s.sql(
        """SELECT n.n_name, t.c_custkey, t.c_acctbal
          |FROM graft_q229_nation n
          |JOIN LATERAL (
          |  SELECT c_custkey, c_acctbal FROM graft_q229_customer c
          |  WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY n.n_name, t.c_custkey""".stripMargin)
    },
    """SELECT n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n
      |JOIN LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t ON TRUE
      |ORDER BY n.n_name, t.c_custkey""".stripMargin)

  /** q227: approximate query processing (operators.Aqp) — per-priority
    * order-value totals estimated from a deterministic 5% md5 sample with
    * 95% CLT error bars and finite-population correction, next to the true
    * totals and a ci_hit flag. Sample membership, the exact-decimal
    * moments, and the estimate/variance/CI dag all replay bitwise in
    * DuckDB — reproducible approximation, the answer-now shape for
    * "revenue by segment, roughly" at 100 TB.
    */
  private val aqpSum = QueryDef(
    (s, dir) =>
      graft.operators.Aqp.sampledSum(
        Tables.orders(s, dir), keyCol = "o_orderkey",
        valueCol = "o_totalprice", groupCols = Seq("o_orderpriority"),
        samplePct = 5)
        .orderBy("o_orderpriority"),
    s"""WITH f AS (
       |  SELECT o_orderpriority, COUNT(*) AS n_total,
       |    ${sqlSumDec("o_totalprice")} AS total_true
       |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
       |sm AS (
       |  SELECT o_orderpriority, COUNT(*) AS n_sample,
       |    CAST(SUM(CAST(${sqlDec2("o_totalprice")} * 100 AS DECIMAL(18,0)))
       |      AS DOUBLE) AS s1c,
       |    CAST(SUM(CAST(
       |        CAST(${sqlDec2("o_totalprice")} * 100 AS DECIMAL(18,0)) *
       |        CAST(${sqlDec2("o_totalprice")} * 100 AS DECIMAL(18,0))
       |      AS DECIMAL(38,0))) AS DOUBLE) AS s2c
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL
       |    AND CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
       |          AS BIGINT) % 100 < 5
       |  GROUP BY 1),
       |c AS (
       |  SELECT f.o_orderpriority, f.n_total,
       |    COALESCE(sm.n_sample, 0) AS n_sample, f.total_true,
       |    CAST(f.n_total AS DOUBLE) AS nt,
       |    CAST(COALESCE(sm.n_sample, 0) AS DOUBLE) AS ns,
       |    sm.s1c / CAST(COALESCE(sm.n_sample, 0) AS DOUBLE) AS meanc, sm.s2c
       |  FROM f LEFT JOIN sm USING (o_orderpriority)),
       |e AS (
       |  SELECT *, nt * meanc AS estc,
       |    nt * sqrt(greatest(
       |        (s2c - ns * meanc * meanc) / (ns - CAST('1.0' AS DOUBLE)),
       |        CAST('0.0' AS DOUBLE))
       |      / ns * (CAST('1.0' AS DOUBLE) - ns / nt)) AS sec
       |  FROM c)
       |SELECT o_orderpriority, n_total, n_sample, total_true,
       |  estc / CAST('100.0' AS DOUBLE) AS total_est,
       |  CASE WHEN n_sample >= 2
       |       THEN (estc - CAST('1.96' AS DOUBLE) * sec) / CAST('100.0' AS DOUBLE)
       |       END AS ci_lo,
       |  CASE WHEN n_sample >= 2
       |       THEN (estc + CAST('1.96' AS DOUBLE) * sec) / CAST('100.0' AS DOUBLE)
       |       END AS ci_hi,
       |  CASE WHEN n_sample >= 2
       |       THEN total_true >=
       |         (estc - CAST('1.96' AS DOUBLE) * sec) / CAST('100.0' AS DOUBLE)
       |        AND total_true <=
       |         (estc + CAST('1.96' AS DOUBLE) * sec) / CAST('100.0' AS DOUBLE)
       |       END AS ci_hit
       |FROM e ORDER BY o_orderpriority""".stripMargin)

  /** q224: KMV bottom-k overlap report (operators.KmvSketch) — pairwise
    * union / Jaccard / intersection estimates between the three returnflag
    * orderkey sets from 256-minima sketches alone. The true intersections
    * are ~8.1k; the sketch reads land within ~5% while touching only
    * pairs x 2k sketch rows — the cross-corpus contamination audit shape.
    * Every estimate replays bitwise in DuckDB (rank selection over the
    * same md5 hashes, one division, one multiplication).
    */
  private val kmvOverlap: QueryDef = {
    import graft.operators.KmvSketch
    val kmvC = (256 - 1).toDouble * KmvSketch.HashSpace
    QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_returnflag").as("g"),
            col("l_orderkey").cast("string").as("k"))
        // native one-pass aggregate build (kmv_md5_agg): row-equal to the
        // distinct + heap-top-k pipeline (KmvSketchSpec), which is what
        // the oracle replays
        KmvSketch.pairwiseOverlap(
          KmvSketch.sketchAgg(li, "k", "g", k = 256), "g", k = 256)
      },
      s"""WITH dh AS (
         |  SELECT DISTINCT l_returnflag AS g,
         |    CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
         |      AS BIGINT) AS h
         |  FROM lineitem WHERE l_orderkey IS NOT NULL),
         |sk AS (
         |  SELECT g, h FROM (
         |    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
         |    FROM dh)
         |  WHERE rk <= 256),
         |srcs AS (SELECT DISTINCT g FROM sk),
         |pairs AS (
         |  SELECT a.g AS src_a, b.g AS src_b FROM srcs a JOIN srcs b ON a.g < b.g),
         |lifted AS (
         |  SELECT p.src_a, p.src_b, s.h,
         |    MAX(CASE WHEN s.g = p.src_a THEN 1 ELSE 0 END) AS in_a,
         |    MAX(CASE WHEN s.g = p.src_b THEN 1 ELSE 0 END) AS in_b
         |  FROM pairs p JOIN sk s ON s.g = p.src_a OR s.g = p.src_b
         |  GROUP BY 1, 2, 3),
         |um AS (
         |  SELECT src_a, src_b, h, in_a, in_b,
         |    ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
         |  FROM lifted),
         |agg AS (
         |  SELECT src_a, src_b, COUNT(*) AS n_mins, MAX(h) AS h_k,
         |    CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_both
         |  FROM um WHERE rk <= 256 GROUP BY 1, 2),
         |ge AS (
         |  SELECT g, COUNT(*) AS gn, MAX(h) AS gh FROM sk GROUP BY 1),
         |gest AS (
         |  SELECT g, CASE WHEN gn < 256 THEN CAST(gn AS DOUBLE)
         |           ELSE CAST('$kmvC' AS DOUBLE) / CAST(gh AS DOUBLE)
         |           END AS kmv_estimate
         |  FROM ge),
         |fin AS (
         |  SELECT src_a, src_b, n_mins, n_both,
         |    CASE WHEN n_mins < 256 THEN CAST(n_mins AS DOUBLE)
         |         ELSE CAST('$kmvC' AS DOUBLE) / CAST(h_k AS DOUBLE)
         |         END AS union_est,
         |    CAST(n_both AS DOUBLE) / CAST(n_mins AS DOUBLE) AS jaccard_est
         |  FROM agg),
         |fin2 AS (
         |  SELECT f.*, jaccard_est * union_est AS inter_est,
         |    ea.kmv_estimate AS est_a, eb.kmv_estimate AS est_b
         |  FROM fin f JOIN gest ea ON ea.g = f.src_a
         |             JOIN gest eb ON eb.g = f.src_b)
         |SELECT src_a, src_b, n_mins, n_both, union_est, jaccard_est,
         |  inter_est, est_a, est_b,
         |  est_a - inter_est AS a_only_est,
         |  est_b - inter_est AS b_only_est
         |FROM fin2 ORDER BY src_a, src_b""".stripMargin)
  }

  val defs: Map[String, QueryDef] = Map(
    "q223_hll_exact_replay" -> hllExactReplay,
    "q224_kmv_overlap" -> kmvOverlap,
    "q226_sketch_persist" -> sketchPersist,
    "q227_aqp_sum" -> aqpSum,
    "q228_window_suite" -> windowSuite,
    "q229_lateral_topk" -> lateralTopk,
    "q108_topk_native" -> topkNative,
    "q107_interval_overlap" -> intervalOverlap,
    "q103_mad_outliers" -> madOutliers,
    "q98_fuzzy_match" -> fuzzyMatch,
    "q159_linkage_score" -> linkageScore,
    "q234_linkage_pipeline" -> linkagePipeline,
    "q99_snapshot_diff" -> snapshotDiff,
    "q238_incremental_agg" -> incrementalAgg,
    "q240_incremental_minmax" -> incrementalMinMax,
    "q242_incremental_join" -> incrementalJoin,
    "q247_mv_rewrite" -> mvRewrite,
    "q249_mv_join_rewrite" -> mvJoinRewrite,
    "q250_mv_filter_rewrite" -> mvFilterRewrite,
    "q251_join_minmax_ivm" -> joinMinMaxIvm,
    "q253_mv_versioned_read" -> mvVersionedRead,
    "q254_mv_join_filter" -> mvJoinFilterRewrite,
    "q255_ivm_distinct" -> ivmDistinct,
    "q101_hll_shard_merge" -> hllShardMerge,
    "q185_hist_quantiles" -> histQuantiles,
    "q92_gap_fill" -> gapFill,
    "q93_full_outer" -> fullOuter,
    "q94_histogram" -> histogram,
    "q95_grouping_sets" -> groupingSets,
    "q19_scd2" -> scd2Snapshot,
    "q171_scd2_merge" -> scd2Merge,
    "q172_model_dag" -> modelDag,
    "q78_upsert_roundtrip" -> upsertRoundtrip,
    "q79_incremental_model" -> incrementalRoundtrip,
    "q36_approx_stats" -> approxStats,
    "q46_range_frame" -> rangeFrame,
    "q47_correlated_subquery" -> correlatedSubquery,
    "q48_array_ops" -> arrayOps,
    "q49_string_ops" -> stringOps,
    "q29_salted_agg" -> saltedAgg,
    "q30_range_join" -> rangeJoin,
    "q31_pivot" -> pivotAgg,
    "q32_unpivot" -> unpivotMelt,
    "q33_topk_per_group" -> topKPerGroup,
    "q34_scalar_subquery" -> scalarSubquery,
    "q35_date_parts" -> dateParts,
    "q45_corpus_pipeline" -> corpusPipeline,
    "q25_rolling_trend" -> rollingTrend,
    "q26_asof_join" -> asofJoin,
    "q219_asof_native" -> asofJoin,
    "q221_asof_forward" -> asofForward,
    "q222_asof_tolerance" -> asofTolerance,
    "q245_pit_enrich" -> pitEnrich,
    "q27_cube" -> cubeAgg,
    "q28_percentiles" -> percentiles,
    "q44_lang_id" -> langId)
}
