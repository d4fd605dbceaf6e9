package graft.core

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The engine's one session set-up.
  *
  * Mirrors the reference's cluster configuration intent (AQE + partition
  * coalescing enabled, cf. reference terraform/main.tf:138-139) but sized for
  * `local[N]`: shuffle partitions ≈ cores, not the 200 default. On a real
  * cluster the same builder is used minus `master`, and shuffle partitions are
  * sized to ~2-3× total executor cores (AQE coalesces the excess at runtime).
  *
  * [[local]] is the only place a session is built: Bench, Verify, the tools
  * and the tests all plan through the same confs and the same
  * [[graft.GraftExtensions]] catalogue, injected at build time. [[tune]]
  * exists only for sessions built elsewhere (a driver passing its own
  * session to [[graft.SparkEntry]]).
  */
object Sessions {

  /** Cores of the local session: `SPARK_GRAFT_CPUS`, default 4. */
  private[graft] val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** AQE default, env-overridable (`SPARK_GRAFT_AQE=false`) — a measurement
    * knob for attributing per-stage adaptive-replan overhead in A/B runs,
    * NOT a tuned default: adaptive execution stays ON (skew splitting +
    * partition coalescing are load-bearing at production scale).
    */
  private val aqeEnabled: String =
    if (sys.env.get("SPARK_GRAFT_AQE").contains("false")) "false" else "true"

  /** Runtime SQL confs: set at build time by [[local]], and once by [[tune]]
    * on a foreign session.
    */
  private val runtimeConfs: Seq[(String, String)] = Seq(
    // oracle parity: DuckDB reads the same timestamps as UTC wall clock
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> aqeEnabled,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // skew-join splitting: a hot key (one domain, one language) otherwise
    // pins a 100 TB join on one straggler task — AQE splits oversized
    // partitions at runtime, complementing the explicit salting in q29
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // NOTE (r10, measured): canChangeCachedPlanOutputPartitioning=true was
    // tried here to let AQE coalesce cached frames' 32-partition layouts
    // (they show up as shuffle.partitions-many near-empty tasks on every
    // cache read). Full-bench result: -2.4 s on the LM queries but +30 s
    // across the minhash/dedup families — the cached signature frames are
    // tiny in BYTES but feed CPU-dense band-join/verify stages, and
    // byte-based coalescing serialized that compute onto 1-2 cores. AQE
    // cannot see CPU density; left OFF deliberately.
    // runtime bloom pruning: a selective dimension filter reaches the
    // fact scan as a bloom probe, cutting shuffle input before it exists
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // runtime SMJ -> shuffled-hash conversion, gated on ACTUAL post-
    // shuffle partition size (guide §3.1): when every map output for a
    // join is under the advisory partition size, hashing the small side
    // beats sorting both. Size-gated at runtime = scale-safe (a 100 TB
    // partition never converts); Spark's docs recommend aligning it
    // with advisoryPartitionSizeInBytes (64 MB default).
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64MB")

  /** Local session for the bench, the driver mains, the tools and the
    * tests.
    */
  def local(cores: Int = cpus, appName: String = "graft"): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // static conf (first-session-wins): the default 100-entry generated-
      // class cache thrashes across a 255-query suite (~10 codegen
      // fragments per query); a long-lived driver serving many query
      // shapes wants the same headroom (code cache is already 1g)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // static conf: reliable Barriers.cut checkpoints are deleted once
      // their frame is unreferenced, instead of living as long as the app
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .withExtensions(new GraftExtensions)
    val spark = runtimeConfs
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Housekeeping.installExitSweep(spark)
    spark
  }

  /** Install the engine on a session built elsewhere: the runtime confs and
    * the [[graft.GraftExtensions]] catalogue (functions, optimizer rules,
    * planner strategies), once. A session that already has the catalogue —
    * any session from [[local]] — is returned untouched. Static confs cannot
    * be set after the build; see [[Barriers]] for the one a foreign session
    * needs for reliable checkpoints to be cleaned.
    */
  def tune(spark: SparkSession): SparkSession = {
    if (!GraftExtensions.installed(spark)) {
      runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      val registry = spark.sessionState.functionRegistry
      GraftExtensions.functions.foreach { case (name, _, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
      }
      spark.experimental.extraOptimizations ++= GraftExtensions.optimizerRules
      spark.experimental.extraStrategies ++= GraftExtensions.strategies
      // gate hermeticity: this JVM removes its own on-disk gate artifacts
      // at exit, crashed runs included (idempotent; see Housekeeping)
      Housekeeping.installExitSweep(spark)
    }
    spark
  }
}
