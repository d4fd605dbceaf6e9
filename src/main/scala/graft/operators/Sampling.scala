package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic content-hash sampling and splitting — the train/holdout
  * machinery of a pretraining-data pipeline. Buckets come from a key's md5,
  * so membership is stable across runs, partitionings and engines (no RNG
  * state, no seed shipping): the same document always lands in the same
  * split, which is what makes decontamination and incremental reprocessing
  * possible at corpus scale.
  */
object Sampling {

  /** Stable bucket in [0, buckets) from the key's md5 (first 32 bits).
    * 32 bits matter: a 16-bit draw mod 10,000 buckets over-admits residues
    * below 65536 % 10000 = 5536 by 7/6 (~7% relative skew on most
    * temperature thresholds); at 32 bits the same bias is ~2e-6 relative —
    * below any realized mixture's noise floor. SamplingSpec pins the
    * empirical admission rate at 10k buckets.
    */
  def hashBucket(key: Column, buckets: Int): Column =
    (md5Bits32(key) % buckets).cast("int")

  /** First 32 md5 bits of the key as a long in [0, 2^32) — THE uniform
    * draw behind every sampler here ([[hashBucket]]'s bucket,
    * [[weightedSample]]'s u). One definition so the cast chain and bit
    * width can never diverge between them.
    */
  private def md5Bits32(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")

  /** Tag rows with "train"/"holdout" at trainPct/100. */
  def split(df: DataFrame, keyCol: String, trainPct: Int): DataFrame =
    df.withColumn("split",
      when(hashBucket(col(keyCol), 100) < trainPct, "train").otherwise("holdout"))

  /** Pretraining-mixture sampling: admit each row at its source's rate
    * (percent, 0-100), falling back to `defaultPct` for unlisted sources —
    * how a data mix ("keep all of wiki, 30% of crawl") is materialized.
    * Deterministic (same md5 bucket as [[split]]): re-running the pipeline
    * or resharding the corpus reproduces the exact same mixture, and a
    * row's admission can be audited from its key alone. Pure filter — the
    * rate lookup folds into a codegen'd CASE chain, zero shuffle, and the
    * admission predicate pushes into the scan like any other filter.
    */
  def mixture(df: DataFrame, keyCol: String, sourceCol: String,
      ratesPct: Map[String, Int], defaultPct: Int): DataFrame =
    df.filter(hashBucket(col(keyCol), 100) < sourceRate(sourceCol, ratesPct, defaultPct))

  /** Per-source percent as a codegen CASE chain — the rate lookup shared by
    * [[mixture]] and [[upsampleEpochs]] (one place for any null-source or
    * duplicate-key handling).
    */
  private def sourceRate(sourceCol: String, pctMap: Map[String, Int],
      defaultPct: Int): Column =
    pctMap.foldLeft(lit(defaultPct): Column) { case (acc, (src, pct)) =>
      when(col(sourceCol) === src, lit(pct)).otherwise(acc)
    }

  /** Epoch upsampling — the half of mixture materialization [[mixture]]
    * cannot express: repeat factors ABOVE 1 ("2.5 epochs of wiki, 1 of
    * books"), given as percent (250 = 2.5 epochs). Each row emits
    * `floor(pct/100)` copies plus one more when its md5 bucket clears the
    * fractional part, tagged with a contiguous 0-based `epoch` index so
    * downstream shards/shuffles can spread the repeats. Deterministic: the
    * fractional copy rides the same bucket draw as [[mixture]], so factors
    * below 100 degrade gracefully into plain downsampling and every row's
    * multiplicity is auditable from its key alone. Map-only — the factor
    * folds to a codegen CASE chain and the copies to one row-local
    * explode; output rows = input × factor is the unavoidable cost of
    * materializing epochs (training loaders that re-read shards per epoch
    * should do that instead; this is for recipes that need the repeats
    * physically present, e.g. a packed/shuffled corpus).
    */
  def upsampleEpochs(df: DataFrame, keyCol: String, sourceCol: String,
      epochsPct: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    val pct = sourceRate(sourceCol, epochsPct, defaultPct)
    val copies = floor(pct / 100).cast("int") +
      when(hashBucket(col(keyCol), 100) < pct % 100, 1).otherwise(0)
    df.withColumn("epoch",
      explode(when(copies >= 1, sequence(lit(0), copies - 1))
        .otherwise(array().cast("array<int>"))))
  }

  /** Temperature-flattened mixture sampling: downsample each source at rate
    * `(w_min / w_s)^(1-alpha)` where `w_s` is the source's total weight
    * (e.g. token count) — the multilingual/multi-source rebalancing step
    * ("sample source s proportional to w^alpha") materialized as a
    * deterministic filter. `alpha = 1` keeps everything (natural mix);
    * `alpha = 0.5` is the common square-root flattening; the largest
    * sources are cut hardest, the smallest kept whole.
    *
    * Only `alpha = 0.5` is exposed: its rate is `sqrt(w_min)/sqrt(w_s)`,
    * and IEEE `sqrt`/division are correctly rounded, so two engines agree
    * bit-for-bit on every admission threshold — a float `pow` would not.
    * Zero driver state: per-source totals and the min ride along as
    * broadcast tiny-table joins; admission is then a pure filter on
    * the same md5 bucket as [[split]] (reproducible, auditable per row).
    */
  def temperatureMixture(df: DataFrame, keyCol: String, sourceCol: String,
      weight: Column): DataFrame = {
    val totals = df.groupBy(sourceCol).agg(sum(weight).as("__w"))
    // w_min over POSITIVE weights only: a zero/negative-total source would
    // otherwise poison every threshold through sqrt(0 or neg) = 0/NaN and
    // silently empty the whole mixture; such sources carry no admissible
    // mass and are dropped (threshold 0) without touching the others
    val minw = totals.filter(col("__w") > 0)
      .agg(min(col("__w")).as("__wmin"))
    val rated = totals.crossJoin(broadcast(minw))
      .withColumn("__thresh",
        when(col("__w") > 0,
          floor(lit(10000.0) * (sqrt(col("__wmin").cast("double"))
            / sqrt(col("__w").cast("double")))))
          .otherwise(lit(0L)))
      .select(col(sourceCol), col("__thresh"))
    df.join(broadcast(rated), Seq(sourceCol))
      .filter(hashBucket(col(keyCol), 10000) < col("__thresh"))
      .drop("__thresh")
  }

  /** Fixed-size weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis, IPL 2006, via the Gumbel/exponential-race form): each row
    * draws a deterministic uniform u from its key's md5 and races with the
    * exponential key `-ln(u) / w`; the `n` smallest win. Inclusion
    * probabilities match sequential weighted draws without replacement —
    * the "sample 10k eval docs proportional to length" primitive — and the
    * draw is reproducible from keys alone (no RNG state, no seed shipping).
    *
    * Scale shape: one codegen projection for the race key, then a global
    * top-n via TakeOrderedAndProject — per-partition n-bounded heaps + a
    * driver merge of n-row partial winners, never a full sort or single-
    * partition funnel. Rows with w ≤ 0 carry no admissible mass and are
    * excluded (same contract as [[temperatureMixture]]'s zero-weight
    * sources).
    *
    * Determinism note: `keyCol` must be UNIQUE (it is the document key —
    * duplicate keys draw the same u and tie exactly, leaving the physical
    * winner at the cut partition-order dependent). Ties on the double key
    * are broken by the key column. The ln is [[graft.expressions.JavaLn]]
    * (Math.log — bitwise-equal to DuckDB's platform ln), NOT the built-in
    * log() (StrictMath, which can differ in the final ulp): with it the
    * race key is bit-identical across engines, so the SELECTION itself is
    * oracle-replayable, not just statistically right. SamplingSpec pins
    * determinism, exact size, and weight-proportional inclusion.
    */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
      n: Int): DataFrame = {
    df.filter(weight > 0)
      .withColumn("__race", raceKey(col(keyCol), weight))
      .orderBy(col("__race"), col(keyCol))
      .limit(n)
      .drop("__race")
  }

  /** The Efraimidis-Spirakis exponential race key `-ln(u)/w` with u drawn
    * from the key's md5 — in (0, 1]: 32 md5 bits + 1 over 2^32, never 0,
    * so ln(u) is finite. Oracle twin: see q148's SQL (same md5 window,
    * same +1/2^32, DuckDB ln == Math.log bit-for-bit).
    */
  private def raceKey(key: Column, weight: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val u = (md5Bits32(key).cast("double") + 1.0) / 4294967296.0
    -ColumnBridge.column(graft.expressions.JavaLn(
      ColumnBridge.expression(u))) / weight.cast("double")
  }

  /** Per-group [[weightedSample]]: `nPerGroup` winners of the same
    * exponential race WITHIN each group — "500 eval docs per source,
    * weighted by length" — through the native heap exec
    * ([[graft.plans.TopKPerGroupPlan]]): one shuffle on the group key,
    * per-group n-bounded heaps, never a per-group sort of the corpus.
    * Same determinism contract as [[weightedSample]] (unique keys; race
    * key internal). Memory note as in [[stratifiedSample]]: heaps are
    * per-distinct-group per-partition on-heap — right for source/lang/
    * domain strata; route near-row-cardinality groups through the window
    * form instead.
    */
  def weightedSamplePerGroup(df: DataFrame, keyCol: String, groupCol: String,
      weight: Column, nPerGroup: Int): DataFrame = {
    TopK.perGroupNative(
      df.filter(weight > 0).withColumn("__race", raceKey(col(keyCol), weight)),
      groupCol, "__race", keyCol, nPerGroup, descending = false)
      .drop("__race")
  }

  /** Deterministic global shuffle into `nShards` training shards: each row
    * gets a stable shard (md5 bucket of its key) and a stable position
    * within the shard (rank by md5 of the key, tie-broken by the key) — the
    * "shuffle the corpus, then write N shard files" step of a pretraining
    * run, without RNG state. Re-running, resharding upstream, or changing
    * the cluster layout reproduces byte-identical shard contents and order,
    * so a training run is resumable and auditable from keys alone. One
    * shuffle on the shard id; position ranking needs no global sort (each
    * shard orders independently), so shards scale out embarrassingly.
    */
  def shards(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shard")
      .orderBy(md5(col(keyCol).cast("string").cast("binary")), col(keyCol))
    df.withColumn("shard", hashBucket(col(keyCol), nShards))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
  }

  /** Deterministic round-robin source interleave — the training-ORDER
    * complement of [[mixture]]/[[shards]]: emit the 1st document of every
    * source (sources in name order), then the 2nd of every source, and so
    * on, so a sequential reader sees sources evenly woven rather than
    * concatenated (a corpus read source-by-source trains on one
    * distribution for hours before seeing the next — the classic
    * data-order pathology interleaving exists to prevent). Within each
    * source, documents order by the md5 of their key (the same stable
    * pseudo-random order as [[stratifiedSample]]), so the interleave is
    * reproducible from keys alone at any partitioning.
    *
    * Output: input columns plus `source_pos` (1-based position within the
    * source) and `train_pos` (1-based global training position).
    *
    * Scale shape: `source_pos` is a per-source window (partitioned — no
    * global funnel); the global position is
    * [[Curriculum.withGlobalRank]]'s two-phase sharded prefix sum over
    * (source_pos, source), NOT an unpartitioned window. Two shuffles
    * total, both key-only wide columns ride along once.
    */
  def interleaveBySource(df: DataFrame, keyCol: String,
      sourceCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(sourceCol)
      .orderBy(md5(col(keyCol).cast("string").cast("binary")), col(keyCol))
    Curriculum.withGlobalRank(
        df.withColumn("source_pos", row_number().over(w).cast("long")),
        Seq("source_pos", sourceCol))
      .withColumnRenamed("rank", "train_pos")
      .drop("total")
  }

  /** Integrity manifest over [[shards]]' output — one row per shard with
    * the counts, bounds and content checksum a training loader verifies
    * before (and a resumed run re-verifies after) reading the shard files:
    * row count, total weight (tokens), the first/last keys in shard
    * order, and an ORDER-INSENSITIVE content checksum (bit-XOR of each
    * row's 60-bit content hash). XOR, not an ordered fold: it is
    * associative/commutative, so the checksum map-side combines like any
    * aggregate and never materializes a shard-sized string — and shard
    * CONTENT is what the manifest certifies (order is already pinned by
    * `shard_pos`, whose extent the count cross-checks).
    *
    * Scale shape: one groupBy over the sharded corpus; manifest size =
    * shard count. The rewrite-proof pairing is (manifest row, shard
    * file) — a flipped bit in any document flips the XOR.
    */
  def shardManifest(df: DataFrame, keyCol: String, contentCol: String,
      nShards: Int, weight: Column): DataFrame =
    shards(df, keyCol, nShards)
      .withColumn("__ch",
        conv(substring(md5(col(contentCol).cast("binary")), 1, 15), 16, 10)
          .cast("long"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(weight.cast("long")).as("total_weight"),
        min(struct(col("shard_pos"), col(keyCol))).getField(keyCol)
          .as("first_key"),
        max(struct(col("shard_pos"), col(keyCol))).getField(keyCol)
          .as("last_key"),
        expr("bit_xor(__ch)").as("checksum"))

  /** Exactly `nPerGroup` rows per group (fewer if the group is smaller),
    * chosen deterministically: rank rows inside each group by the md5 of
    * their key (a stable pseudo-random total order both engines compute
    * identically), tie-broken by the key itself. The balanced-subset
    * primitive for eval sets and per-source caps — reproducible across
    * runs, engines and partitionings (a `LIMIT`-per-group or RNG sample is
    * neither).
    *
    * Selection goes through the native heap exec
    * ([[graft.plans.TopKPerGroupPlan]]): one shuffle on the group key and
    * NO per-group sort of the full corpus — a group's billion rows are
    * scanned once into an N-bounded heap; only the N survivors are sorted
    * to assign `sample_rank`. Memory note: the heap exec keeps
    * nPerGroup rows per distinct group per partition on-heap (no spill) —
    * right for strata like source/lang/domain; for near-row-cardinality
    * group keys route through [[TopK.perGroupWindow]] instead.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, groupCol: String,
      nPerGroup: Int): DataFrame = {
    val withH = df.withColumn("__h", md5(col(keyCol).cast("string").cast("binary")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(col("__h"), col(keyCol))
    TopK.perGroupNative(withH, groupCol, "__h", keyCol, nPerGroup,
      descending = false)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Token-budget corpus selection — the "data recipe" cut: charge
    * documents against a `budget` of `weightCol` (tokens) in `orderCols`
    * order (best-quality first; must be a total order) and keep each one
    * whose charge still fits. Every document's weight is charged at its
    * rank position whether or not it is kept, so an oversized document at
    * the boundary is dropped without redistributing its charge — that keeps
    * the kept total ≤ budget AND the cut a single parallel prefix sum; a
    * true greedy refill (reclaiming skipped documents' charge) is an
    * inherently sequential walk that cannot shard.
    *
    * Scale shape: the cumulative weight comes from
    * [[Packing.withGlobalOffsets]]'s two-phase sharded prefix sum (no
    * global window, no single-task funnel); the budget test is then a
    * stateless filter. Deterministic for a fixed order — same cut on every
    * run, engine, and partitioning.
    *
    * Returned columns include `offset` (exclusive running total at the
    * document's position in the quality order) for budget auditing.
    */
  def tokenBudgetFill(df: DataFrame, orderCols: Seq[String],
      weightCol: String, budget: Long): DataFrame =
    Packing.withGlobalOffsets(df, orderCols, weightCol)
      .filter(col("offset") + col(weightCol) <= budget)

  /** Per-group [[tokenBudgetFill]]: charge each group's documents against
    * that group's OWN budget (a (groupCol, alloc) frame — typically
    * [[allocateBudget]]'s output) in `orderCols` order within the group.
    * Composing the two is the full data-recipe materialization: "split 1B
    * tokens across sources by quality mass, then cut each source at its
    * allocation, best documents first".
    *
    * Scale shape: ONE global sharded prefix sum over (group, orderCols) —
    * rows of a group are contiguous in that order, so the group-local
    * running total is the global offset minus the group's base (its
    * minimum global offset, a group-count-sized broadcast join) — the
    * same no-per-group-window trick as [[Packing.groupedSequencePacking]];
    * the budget test is then a stateless filter against the broadcast
    * allocation. Same boundary semantics as [[tokenBudgetFill]]: an
    * oversized document at the cut is dropped without redistributing its
    * charge.
    */
  def tokenBudgetFillPerGroup(df: DataFrame, groupCol: String,
      orderCols: Seq[String], weightCol: String,
      budgets: DataFrame): DataFrame = {
    val globalOff = Packing.withGlobalOffsets(df, groupCol +: orderCols, weightCol)
    val bases = globalOff.groupBy(groupCol).agg(min("offset").as("__base"))
    globalOff.join(broadcast(bases), Seq(groupCol))
      .withColumn("offset", col("offset") - col("__base"))
      .join(broadcast(budgets), Seq(groupCol))
      .filter(col("offset") + col(weightCol) <= col("alloc"))
      .drop("__base")
  }

  /** Effective-epoch audit over an [[allocateBudget]] allocation — the
    * over-repetition risk table of a data recipe (Muennighoff et al.,
    * NeurIPS'23 "Scaling Data-Constrained Language Models": value decays
    * past ~4 epochs of reuse). An allocation charges each source
    * `alloc` tokens against `w` available, so the recipe implicitly
    * trains `alloc / w` epochs of that source; this reports those
    * effective epochs, flags sources past `maxEpochs`, and shows the
    * capped allocation (`min(alloc, ⌊maxEpochs·w⌋)`) plus the budget
    * mass the cap would surrender. Surrendered mass is REPORTED, not
    * silently reallocated — redistribution changes the recipe and is the
    * owner's call (rerun [[allocateBudget]] on the uncapped sources).
    *
    * Pure projection over the group-cardinality allocation frame —
    * correctly-rounded double ops only (divide, multiply, floor), so the
    * audit is bit-deterministic and oracle-replayable.
    */
  def epochAudit(alloc: DataFrame, groupCol: String,
      maxEpochs: Double): DataFrame = {
    require(maxEpochs > 0, s"maxEpochs must be > 0, got $maxEpochs")
    val capped = least(col("alloc"),
      floor(lit(maxEpochs) * col("w").cast("double")).cast("long"))
    alloc.select(col(groupCol), col("w"), col("alloc"),
        (col("alloc").cast("double") /
          nullif(col("w"), lit(0L)).cast("double")).as("epochs"))
      .withColumn("over_cap",
        coalesce(col("epochs") > maxEpochs, lit(false)))
      .withColumn("capped_alloc",
        when(col("w") > 0, capped).otherwise(lit(0L)))
      .withColumn("surrendered", col("alloc") - col("capped_alloc"))
  }

  /** Proportional budget allocation across sources by largest remainder
    * (Hamilton's method): split a total `budget` (tokens) over the groups
    * of `groupCol` proportionally to their summed `weight`, exactly —
    * Σ alloc = budget, each group gets ⌊budget·w/W⌋ plus one of the
    * `budget − Σ⌊·⌋` leftover units, awarded by largest fractional part
    * (ties to the first group). This is the "1B tokens across sources by
    * quality mass" recipe step upstream of [[tokenBudgetFill]], which then
    * cuts each source at its allocated budget.
    *
    * Arithmetic is a fixed IEEE-double dag (multiply, divide, floor —
    * all correctly rounded, so two engines agree bitwise; same argument as
    * [[temperatureMixture]]); the leftover ranking runs through the
    * sharded prefix-sum rank, so even a million-group allocation never
    * funnels through one partition. Output: one row per group —
    * (groupCol, w, share, base_alloc, alloc).
    */
  def allocateBudget(df: DataFrame, groupCol: String, weight: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    // all-NULL groups carry zero weight (not a NULL that would poison the
    // share dag and steal a leftover unit via NULL-first ordering)
    val totals = df.groupBy(groupCol)
      .agg(coalesce(sum(weight), lit(0L)).as("w"))
    val grand = totals.agg(sum(col("w")).as("__W"),
      count(lit(1)).as("__n"))
    val shared = totals.crossJoin(broadcast(grand))
      // W ≤ 0 guard (cf. temperatureMixture): a zero/negative grand total
      // would turn every share into NaN/±Inf; the budget then splits
      // EQUALLY (budget/n per group) so the exact-sum contract survives —
      // a flat 0 share could hand out at most one leftover unit per group
      .withColumn("share",
        when(col("__W") > 0,
          lit(budget.toDouble) * col("w").cast("double")
            / col("__W").cast("double"))
          .otherwise(lit(budget.toDouble) / col("__n").cast("double")))
      .withColumn("base_alloc", floor(col("share")).cast("long"))
      .withColumn("__frac", col("share") - col("base_alloc"))
    val leftover = shared.agg(
      (lit(budget) - sum(col("base_alloc"))).as("__left"))
    Curriculum.withGlobalRank(
        shared.withColumn("__negfrac", -col("__frac")), Seq("__negfrac", groupCol))
      .crossJoin(broadcast(leftover))
      .withColumn("alloc",
        col("base_alloc") + when(col("rank") <= col("__left"), 1L).otherwise(0L))
      .select(col(groupCol), col("w"), col("share"), col("base_alloc"), col("alloc"))
  }
}
