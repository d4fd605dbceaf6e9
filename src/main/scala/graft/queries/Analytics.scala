package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.operators.EventAnalytics

/** Product-analytics layer over the events table: ordered funnels, weekly
  * cohort retention, and first-order behavioral transitions — the classic
  * warehouse workloads one level above the reference's sessionization
  * (`scripts/transformations.py`). All aggregates are exact (counts,
  * timestamps, one long/long division), so every query is oracle-gated
  * bit-for-bit.
  */
object Analytics {

  private val funnelSteps = Seq("signup", "view", "click", "purchase")

  /** Ordered 4-step conversion funnel with strictly increasing timestamps. */
  private val funnel = QueryDef(
    (s, dir) =>
      EventAnalytics.funnel(Tables.events(s, dir),
        "user_id", "event_type", "ts", funnelSteps)
        .orderBy("step"),
    """WITH s0 AS (
      |  SELECT user_id, MIN(ts) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s1 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t1
      |  FROM events e JOIN s0 USING (user_id)
      |  WHERE e.event_type = 'view' AND e.ts > s0.t0
      |  GROUP BY e.user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |  GROUP BY e.user_id)
      |SELECT 1 AS step, 'signup' AS step_name, COUNT(t0) AS users_reached FROM s0
      |UNION ALL SELECT 2, 'view', COUNT(t1) FROM s1
      |UNION ALL SELECT 3, 'click', COUNT(t2) FROM s2
      |UNION ALL SELECT 4, 'purchase', COUNT(t3) FROM s3
      |ORDER BY step""".stripMargin)

  /** Weekly cohort retention matrix (cohort week × weeks-since offset). */
  private val retention = QueryDef(
    (s, dir) =>
      EventAnalytics.retentionCohorts(Tables.events(s, dir), "user_id", "ts")
        .orderBy("cohort_week", "weeks_since"),
    """WITH fs AS (
      |  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
      |  FROM events GROUP BY user_id)
      |SELECT CAST(date_trunc('week', fs.cohort_day) AS DATE) AS cohort_week,
      |  CAST(FLOOR(date_diff('day', fs.cohort_day, CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
      |    AS weeks_since,
      |  COUNT(DISTINCT e.user_id) AS active_users
      |FROM events e JOIN fs USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** First-order event-type transition matrix with exact probabilities. */
  private val transitions = QueryDef(
    (s, dir) =>
      EventAnalytics.transitionMatrix(Tables.events(s, dir),
        "user_id", "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type"),
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |pairs AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
      |FROM pairs ORDER BY from_type, to_type""".stripMargin)

  /** Key-skew diagnostics ([[graft.operators.SkewReport]]): the 10 hottest
    * customer keys in orders with load share, head concentration and
    * skew-vs-mean ratio — the detection side of the salting/AQE-skew
    * remediation the engine already ships (q29, Sessions).
    */
  private val skewReport = QueryDef(
    (s, dir) =>
      graft.operators.SkewReport.topKeys(Tables.orders(s, dir), "o_custkey", 10)
        .orderBy("rank"),
    """WITH c AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1),
      |t AS (SELECT SUM(cnt) AS n_rows, COUNT(*) AS n_keys FROM c),
      |h AS (SELECT o_custkey, cnt,
      |        ROW_NUMBER() OVER (ORDER BY cnt DESC, o_custkey ASC) AS rank,
      |        SUM(cnt) OVER (ORDER BY cnt DESC, o_custkey ASC
      |                       ROWS UNBOUNDED PRECEDING) AS cum_cnt
      |      FROM c QUALIFY rank <= 10)
      |SELECT rank, o_custkey, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(cnt AS DOUBLE) / n_rows AS share,
      |  CAST(cum_cnt AS DOUBLE) / n_rows AS cum_share,
      |  CAST(cnt AS DOUBLE) * n_keys / n_rows AS skew_vs_mean
      |FROM h, t ORDER BY rank""".stripMargin)

  /** PageRank over the symmetrized customer–supplier affinity graph
    * (PageRank.run, ordered audit path): three mass-passing iterations,
    * each one join + one grouped aggregate, with per-node in-mass folded
    * in sorted source order — bit-reproducible, so the oracle replays
    * the identical iterations with positional list folds. The graph-
    * authority quality signal of web-corpus curation, exercised on the
    * densest bipartite relation in the testdata (~49k pairs → ~98k
    * directed edges, 1,600 nodes).
    */
  private val pagerank: QueryDef = {
    val damping = 0.85
    val dampStr = damping.toString
    val compStr = (1.0 - damping).toString // 1-0.85 in IEEE, NOT 0.15
    val iters = 3
    val iterCtes = (1 to iters).map { k =>
      s"""p$k AS (SELECT nodes.v AS v,
         |  CAST('$compStr' AS DOUBLE) / n.cnt + CAST('$dampStr' AS DOUBLE) *
         |    COALESCE(s.m, CAST('0' AS DOUBLE)) AS pr
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS v, list_sum(list(p${k - 1}.pr / deg.od ORDER BY e.src)) AS m
         |    FROM e JOIN p${k - 1} ON e.src = p${k - 1}.v
         |           JOIN deg ON e.src = deg.src
         |    GROUP BY e.dst) s USING (v), n)""".stripMargin
    }.mkString(",\n")
    QueryDef(
      (s, dir) => {
        // gate-sized graph: one decile of customers (the operator's scale
        // story lives in PageRank.run; an 11 s gate query was 9% of the
        // whole bench for no extra coverage). Filter pushes into BOTH scans.
        // Residual gate cost (~5 s at sf0.1) is profiled, not mysterious:
        // profiling measured ~2 s per iteration on the CACHED
        // 60k-edge graph, unordered — i.e. the materialization barrier
        // (persist+count per iteration, required for bounded lineage) plus
        // ~5 exchanges of scheduling fixed cost, NOT data volume or the
        // ordered fold (+0.1 s/iter marginal). At 100 TB the same barriers
        // amortize over real shuffle work; an iterative recurrence cannot
        // drop them without unbounded lineage (DupGroupsSpec pins that
        // failure mode for connected components).
        val pairs = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
          .filter(col("o_custkey") % 10 === 0)
          .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("a"),
            (lit(1000000L) + col("l_suppkey").cast("long")).as("b"))
        val edges = graft.operators.PageRank.symmetrize(pairs, "a", "b")
        graft.operators.PageRank.run(edges, "src", "dst", iters = iters,
          damping = damping, ordered = true)
          .orderBy("node")
      },
      s"""WITH pairs AS (
         |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS a,
         |    CAST(1000000 + l_suppkey AS BIGINT) AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey % 10 = 0),
         |e AS (SELECT a AS src, b AS dst FROM pairs
         |      UNION ALL SELECT b, a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS v FROM e),
         |n AS (SELECT COUNT(*) AS cnt FROM nodes),
         |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         |p0 AS (SELECT v, CAST('1' AS DOUBLE) / n.cnt AS pr FROM nodes, n),
         |$iterCtes
         |SELECT v AS node, pr AS rank FROM p$iters ORDER BY node""".stripMargin)
  }

  /** q168: pipeline-volume anomaly monitor — daily event counts per stream,
    * robust-scaled ((x − median) / IQR over the exact quartile walk), days
    * with |z| > 3 flagged. This is the data-level half of the reference's
    * monitoring surface (pipeline_monitor.py's volume thresholds) made
    * deterministic: batch-volume collapse/explosion shows up as an
    * anomalous day regardless of wall-clock throughput. Oracle replays the
    * daily rollup, the type-7 quartile interpolation (q152's pinned dag)
    * and the same flag arithmetic.
    */
  private val volumeAnomaly = QueryDef(
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.Quantiles.robustScale(daily, Seq("event_type"), "n_events")
        .select(col("event_type"), col("day"), col("n_events"),
          col("median"), col("iqr"), col("robust_z"),
          (abs(col("robust_z")) > 3.0).as("anomalous"))
        .orderBy("event_type", "day")
    },
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |counts AS (
      |  SELECT event_type, CAST(n_events AS BIGINT) AS v, COUNT(*) AS c
      |  FROM daily GROUP BY event_type, CAST(n_events AS BIGINT)),
      |pref AS (
      |  SELECT event_type, v, c,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n,
      |    LEAD(v, 1) OVER (PARTITION BY event_type ORDER BY v) AS nxt
      |  FROM counts),
      |wanted AS (
      |  SELECT p.event_type, p.v, p.c, p.cum, p.nxt, u.q,
      |    u.q * (p.n - 1) AS h,
      |    FLOOR(u.q * (p.n - 1)) AS lo,
      |    CEIL(u.q * (p.n - 1)) AS hi
      |  FROM pref p,
      |    (SELECT CAST(q AS DOUBLE) AS q
      |     FROM (SELECT unnest([0.25, 0.5, 0.75]) AS q)) u),
      |qsel AS (
      |  SELECT event_type, q,
      |    CAST(v AS DOUBLE) + (h - lo)
      |      * CAST((CASE WHEN hi < cum THEN v ELSE nxt END) - v AS DOUBLE)
      |      AS quantile
      |  FROM wanted WHERE lo >= cum - c AND lo < cum),
      |piv AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN q = 0.25 THEN quantile END) AS q1,
      |    MAX(CASE WHEN q = 0.5 THEN quantile END) AS median,
      |    MAX(CASE WHEN q = 0.75 THEN quantile END) AS q3
      |  FROM qsel GROUP BY event_type),
      |scored AS (
      |  SELECT d.event_type, d.day, d.n_events, p.median,
      |    p.q3 - p.q1 AS iqr,
      |    CASE WHEN p.median IS NULL THEN NULL
      |      WHEN p.q3 - p.q1 > 0
      |      THEN (CAST(d.n_events AS DOUBLE) - p.median) / (p.q3 - p.q1)
      |      ELSE 0.0 END AS robust_z
      |  FROM daily d LEFT JOIN piv p USING (event_type))
      |SELECT event_type, day, n_events, median, iqr, robust_z,
      |  abs(robust_z) > 3.0 AS anomalous
      |FROM scored ORDER BY event_type, day""".stripMargin)

  def defs: Map[String, QueryDef] = Map(
    "q168_volume_anomaly" -> volumeAnomaly,
    "q143_funnel" -> funnel,
    "q144_retention_cohorts" -> retention,
    "q145_event_transitions" -> transitions,
    "q156_skew_report" -> skewReport,
    "q161_pagerank" -> pagerank)
}
