package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.Skew

/** Scale-machinery semantics: salted aggregation/join equivalence, bucketed
  * co-located joins (no shuffle in the plan), partition pruning.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("salted aggregation equals plain aggregation") {
    val li = Tables.lineitem(spark, SparkTestSession.sfDir)
    val plain = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))
    val salted = Skew.saltedAggregate(li, Seq("l_returnflag"), buckets = 8,
      partialAggs = Seq(sum("l_quantity").as("pq"), count(lit(1)).as("pn")),
      finalAggs = Seq(sum("pq").as("q"), sum("pn").as("n")))
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, SparkTestSession.sfDir)
      .select("l_partkey", "l_quantity")
    val p = Tables.part(spark, SparkTestSession.sfDir).select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = li.join(p, "l_partkey")
    val salted = Skew.saltedJoin(li, p, "l_partkey", buckets = 4)
      .select(plain.columns.map(col): _*)
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("bucketed tables co-locate the join: no exchange in the plan") {
    spark.sql("CREATE DATABASE IF NOT EXISTS scale_test")
    Tables.orders(spark, SparkTestSession.sfDir)
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("scale_test.orders_bucketed")
    Tables.lineitem(spark, SparkTestSession.sfDir)
      .withColumnRenamed("l_orderkey", "o_orderkey")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("scale_test.lineitem_bucketed")
    // force the sort-merge path: broadcast would bypass bucketing entirely
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("scale_test.orders_bucketed")
        .join(spark.table("scale_test.lineitem_bucketed"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, SparkTestSession.sfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("ngram-Jaccard stop-shingle cutoff bounds candidate pairs under pathological repetition") {
    import spark.implicits._
    // 120 documents all sharing one ubiquitous trigram plus a unique tail:
    // without the doc-frequency cutoff the shared shingle alone generates
    // 120*119/2 candidate pairs; with maxDocFreq=50 the hot shingle is
    // dropped and NO candidate survives (the unique tails share nothing)
    val docs = (1 to 120).map(i =>
      (i.toLong, s"common shared trigram unique$i tail$i word$i")).toDF("doc_id", "text")
    val pairs = graft.operators.TextDedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 3, minJaccard = 0.1, maxDocFreq = 50L)
    assert(pairs.count() == 0L)
  }

  test("mixture sampling admits ~rate percent at corpus scale") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val kept = graft.operators.Sampling.mixture(
      docs, "doc_id", "source", Map.empty, defaultPct = 40).count().toDouble
    val frac = kept / docs.count()
    assert(frac > 0.25 && frac < 0.55, s"fraction $frac")
  }

  test("runtime bloom filter from a selective dim filter reaches the fact scan") {
    // the 100 TB case: a filtered dimension should inject a bloom filter
    // into the fact side so most fact rows die at the scan, not the join
    val conf = spark.conf
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        conf.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"),
      "spark.sql.optimizer.runtimeFilter.number.threshold" ->
        conf.get("spark.sql.optimizer.runtimeFilter.number.threshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        conf.get("spark.sql.autoBroadcastJoinThreshold"))
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
    // the default 10GB gate targets real clusters; the sf0.001 fact side is
    // tiny, so open it to let the rule fire and assert the plan shape
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // broadcast joins skip runtime filters (the build side already prunes);
    // force the shuffle path the filter is designed for
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, SparkTestSession.sfDir)
        .select("l_orderkey", "l_quantity")
      val o = Tables.orders(spark, SparkTestSession.sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_totalprice")
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"expected an injected runtime bloom filter on the fact side:\n$plan")
      assert(joined.count() > 0)
    } finally prev.foreach { case (k, v) => conf.set(k, v) }
  }

  test("AQE splits a skewed join partition") {
    import spark.implicits._
    // one hot key holding ~all rows vs a flat side; with aggressive skew
    // thresholds AQE must mark the sort-merge join as skew=true
    val conf = spark.conf
    val prev = Map(
      "spark.sql.adaptive.skewJoin.enabled" ->
        conf.get("spark.sql.adaptive.skewJoin.enabled"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        conf.get("spark.sql.autoBroadcastJoinThreshold"))
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val skewed = (1 to 60000).map(i =>
        (if (i % 100 == 0) i.toLong else 7L, s"payload_$i")).toDF("k", "v")
      val flat = (1L to 60000L).map(i => (i, i * 2)).toDF("k", "w")
      val joined = skewed.join(flat, "k")
      // execute THIS dataset's plan — count() would build a separate
      // aggregate plan and leave joined's AdaptiveSparkPlan unfinalized
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed join:\n$plan")
    } finally prev.foreach { case (k, v) => conf.set(k, v) }
  }

  test("partitioned table writes prune partitions on read") {
    spark.sql("CREATE DATABASE IF NOT EXISTS scale_test")
    Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date")
      .saveAsTable("scale_test.events_partitioned")
    val pruned = spark.table("scale_test.events_partitioned")
      .filter(col("event_date") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    // a pruned scan reads a single partition directory, not the whole table
    assert(plan.contains("PartitionFilters") || pruned.count() <
      spark.table("scale_test.events_partitioned").count())
    assert(pruned.count() ==
      Tables.events(spark, SparkTestSession.sfDir)
        .filter(to_date(col("ts")) === "2024-01-05").count())
  }

  test("dynamic partition pruning reaches a partitioned fact scan") {
    // at 100 TB the fact side's partition filter often isn't a literal but
    // the result of joining a filtered dimension — DPP turns that join
    // into a runtime partition filter on the scan; without it the join
    // reads every partition
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS scale_test")
    Tables.orders(spark, SparkTestSession.sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year")
      .saveAsTable("scale_test.orders_by_year")
    // range-backed dim: a Seq.toDF dim constant-folds its Filter into the
    // LocalRelation, and DPP's selective-predicate check then sees nothing
    val dim = spark.range(1992, 1999)
      .select(col("id").cast("int").as("dim_year"),
        when(col("id") === 1997, "pick").otherwise("skip").as("tag"))
    val joined = spark.table("scale_test.orders_by_year")
      .join(dim.filter(col("tag") === "pick"),
        col("o_year") === col("dim_year"))
    assert(joined.count() ==
      Tables.orders(spark, SparkTestSession.sfDir)
        .filter(year(col("o_orderdate")) === 1997).count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n${plan.take(3000)}")
  }
}
