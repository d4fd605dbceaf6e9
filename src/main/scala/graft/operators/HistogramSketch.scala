package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable fixed-bin histogram sketch — the quantile counterpart of the
  * HLL shard-merge story (q101): each shard summarizes a numeric column
  * into `nBins` counts over a fixed [lo, hi] domain; shard sketches merge
  * by ADDING COUNTS (a plain groupBy-sum — associative, commutative, any
  * tree shape), and quantiles read off the merged cumulative histogram
  * with linear interpolation inside the hit bin. This is how percentile
  * monitoring works across a fleet: no shard ever re-reads another shard's
  * rows, re-aggregation cost is bins × shards, and a day's sketch merges
  * into a month's for free.
  *
  * Versus the exact machinery ([[Quantiles.exactIntQuantiles]]) the error
  * is bounded by the bin width — the trade a monitoring pipeline happily
  * makes. Every step (bin assignment, count sums, the interpolation dag)
  * is exact integer or fixed IEEE-double arithmetic, so two engines agree
  * bitwise — the estimate is approximate, the computation reproducible.
  *
  * Scale shape: binning is a scan-level projection; the per-shard sketch a
  * map-side-combining groupBy whose traffic is bins × shards rows (not
  * data rows); the merge another bins-sized aggregate; the quantile read a
  * bins-sized window. Values outside [lo, hi] clamp into the edge bins
  * (monitoring semantics: outliers count, their position saturates);
  * NULLs are dropped.
  */
object HistogramSketch {

  /** Bin index in [0, nBins) for a value: floor((x-lo)/w), clamped. */
  private def binOf(x: Column, lo: Double, hi: Double, nBins: Int): Column = {
    val w = (hi - lo) / nBins
    least(greatest(floor((x.cast("double") - lo) / w), lit(0.0)), lit(nBins - 1.0))
      .cast("int")
  }

  /** Per-shard sketch: one row per (shardCol, bin) with its count.
    * `shardCol` is whatever partitions the fleet — a file, a day, a
    * source; the sketch never carries row-level data. The same call is
    * the streaming histogram: on a streaming frame it is a stateful
    * aggregate whose update-mode emissions are the touched (shard, bin)
    * counts, and the last one per bin equals the batch sketch
    * (EventStreamsSpec).
    */
  def sketch(df: DataFrame, shardCol: String, valueCol: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 1 && hi > lo, "need hi > lo and nBins >= 1")
    // NaN is dropped like NULL (it is a non-measurement, not an outlier):
    // Spark orders NaN above every double, so an unfiltered NaN would
    // clamp into the TOP bin and silently inflate high quantiles
    df.filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .groupBy(col(shardCol), binOf(col(valueCol), lo, hi, nBins).as("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge shard sketches into one histogram: (bin, cnt). The input may be
    * any union of [[sketch]] outputs — merging is count addition.
    */
  def merge(sketches: DataFrame): DataFrame =
    sketches.groupBy("bin").agg(sum(col("cnt")).as("cnt"))

  /** Quantile estimates from a merged histogram: one row per requested q
    * with the interpolated value. Rank target is q × N (mass-based); the
    * estimate interpolates linearly inside the first bin whose cumulative
    * count reaches the target: lo + w × (bin + (target − cum_below)/cnt).
    * The histogram frame is bins-sized — the windows here rank BINS, not
    * data, so an unpartitioned window over it is the correct (and tiny)
    * plan, unlike every corpus-sized rank in this package.
    */
  def quantiles(hist: DataFrame, qs: Seq[Double],
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val spark = hist.sparkSession
    import spark.implicits._
    val w = (hi - lo) / nBins
    val byBin = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("cum_below", coalesce(sum(col("cnt")).over(byBin), lit(0L)))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
    cum.crossJoin(broadcast(qs.toDF("q")))
      .withColumn("target", col("q") * col("total").cast("double"))
      // the hit bin: first bin whose inclusive cumulative reaches target
      .filter(col("cum_below").cast("double") < col("target") &&
        col("target") <= (col("cum_below") + col("cnt")).cast("double"))
      .select(col("q"),
        (lit(lo) + lit(w) * (col("bin").cast("double") +
          (col("target") - col("cum_below").cast("double"))
            / col("cnt").cast("double"))).as("estimate"))
  }
}
