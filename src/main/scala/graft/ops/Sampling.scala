package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * Random sampling (Bernoulli / reservoir) is irreproducible across runs,
  * engines and task retries; production corpus pipelines sample by CONTENT
  * KEY instead: a stable hash of the key modulo a bucket count. The same
  * row lands in the same bucket in any engine that agrees on md5 — Spark
  * here, DuckDB in the oracle — so samples replay exactly, survive
  * re-partitioning and incremental appends, and train/held-out membership
  * never leaks between reruns. Pure codegen'd Column expressions: the
  * filter sits directly above the scan — no shuffle, no sort, no RNG
  * state, the same plan at 500 rows and 100 TB.
  */
object Sampling {

  /** Stable bucket in [0, buckets): first 32 md5 bits of the key,
    * modulo `buckets`. */
  def hashBucket(key: Column, buckets: Int = 100): Column = {
    require(buckets > 0, "buckets must be positive")
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))
  }

  /** Keep ~`pct`% of rows, deterministically by key. */
  def hashSample(df: DataFrame, keyCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100] (got $pct)")
    df.filter(hashBucket(col(keyCol)) < pct)
  }

  /** Per-stratum keep rates (stratum value → percent); strata absent from
    * the map are dropped — the deterministic analogue of
    * `DataFrameStatFunctions.sampleBy`. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Int]): DataFrame = {
    require(rates.values.forall(p => p >= 0 && p <= 100),
      "rates must be percentages in [0,100]")
    val pct = rates.foldLeft(lit(0)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < pct)
  }

  /** Deterministic uniform [0,1) from the first 32 md5 bits of the key —
    * the continuous analogue of [[hashBucket]] for fractional rates. */
  def hashUnit(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("double") /
      lit(4294967296.0)

  /** Per-stratum keep rates that rebalance a corpus to target mixture
    * proportions by `weight` (typically token count), downsampling only:
    * with stratum totals `W_s` and normalized target fractions `f_s`,
    * the achievable mixture size is `T = min_s(W_s / f_s)` (set by the
    * scarcest stratum relative to its target) and each stratum keeps
    * `rate_s = min(1, f_s * T / W_s)` of its weight. One aggregation
    * over the corpus + a scalar min over #strata rows — the rates frame
    * has one row per stratum and is meant to be broadcast. Strata
    * absent from `targets` are excluded (rate 0 by omission). A target
    * stratum with no corpus rows or zero total weight is excluded from
    * the cap and gets no rate row (its rows drop; downsampling cannot
    * conjure its share) — without the weight guard its W = 0 would
    * poison T to 0 and its own NaN rate would resolve to keep-all under
    * `least`, collapsing the sample to exactly the weightless rows. */
  def mixtureRates(df: DataFrame, stratumCol: String, weight: Column,
      targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.values.forall(_ > 0), "target fractions must be positive")
    val tot = targets.values.sum
    val frac = targets.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("double")) { case (acc, (k, f)) =>
        when(col(stratumCol) === k, lit(f / tot)).otherwise(acc)
      }
    val totals = df.withColumn("__frac", frac)
      .filter(col("__frac").isNotNull)
      .groupBy(stratumCol)
      .agg(first(col("__frac")).as("__frac"),
        sum(weight.cast("double")).as("__W"))
      .filter(col("__W") > 0)
    val cap = totals.agg(min(col("__W") / col("__frac")).as("__T"))
    totals.crossJoin(cap)
      .select(col(stratumCol),
        least(lit(1.0), col("__frac") * col("__T") / col("__W")).as("rate"))
  }

  /** Deterministic domain-mixture rebalancing: keep each row iff its
    * key's [[hashUnit]] falls under its stratum's [[mixtureRates]] rate.
    * The achieved mixture matches `targets` in expectation while keeping
    * the maximum weight possible without upsampling; membership is a
    * pure function of the key, so the mix replays across engines and
    * reruns. Plan shape: one corpus aggregation for the rates, then a
    * broadcast join + filter above the scan — no corpus-sized shuffle. */
  def mixtureSample(df: DataFrame, keyCol: String, stratumCol: String,
      weight: Column, targets: Map[String, Double]): DataFrame = {
    val rates = mixtureRates(df, stratumCol, weight, targets)
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(hashUnit(col(keyCol)) < col("rate"))
      .drop("rate")
  }

  /** Deterministic weighted reservoir sample WITHOUT replacement, per
    * stratum (Efraimidis–Spirakis A-ES, Inf. Process. Lett. 97(5), 2006):
    * each row draws u = [[hashUnit]](key) and scores s = u^(1/w); the k
    * highest scores per stratum ARE a without-replacement sample with
    * inclusion probability proportional to weight. Because u is a pure
    * function of the key (not an RNG), membership replays exactly across
    * engines, reruns, retries and repartitioning — the same property all
    * [[Sampling]] ops guarantee — and the whole operator is expressible
    * as two windows over codegen'd column math (SQL-oracle-able).
    *
    * Scale shape: a naive per-stratum top-k window sorts ENTIRE strata —
    * a handful of giant strata would straggle at corpus scale. Instead a
    * pre-prune window over (stratum, shard) — shard = [[hashBucket]] of
    * the key, uniform by construction — keeps k rows per shard cell
    * (provably a superset of the stratum top-k), so the final exact
    * window sorts ≤ shards·k rows per stratum. One skew-free corpus
    * shuffle + one tiny one, no RNG state, no driver pass.
    *
    * Scores are rounded to 9 decimals BEFORE ranking, and ties break on
    * the key: double `pow` agrees across engines to ~1e-15, so the
    * rounded ordering is engine-portable the same way the float-rounding
    * discipline works in every other oracle pair. Rows with null/≤0
    * weight or a null key are excluded (they have no defined draw).
    *
    * @return input columns + `sample_score` (the rounded A-ES score) +
    *         `sample_rank` (1..k within the stratum, best first)
    */
  def weightedReservoir(df: DataFrame, keyCol: String, stratumCol: String,
      weight: Column, k: Int, shards: Int = 32): DataFrame = {
    require(k >= 1, s"k must be positive (got $k)")
    require(shards >= 1, s"shards must be positive (got $shards)")
    import org.apache.spark.sql.expressions.Window
    val scored = df
      .filter(col(keyCol).isNotNull && weight.isNotNull &&
        weight.cast("double") > 0)
      .withColumn("sample_score",
        round(pow(hashUnit(col(keyCol)), lit(1.0) / weight.cast("double")),
          9))
    val order = Seq(col("sample_score").desc, col(keyCol).asc)
    val pre = scored
      .withColumn("__shard", hashBucket(col(keyCol), shards))
      .withColumn("__prn", row_number().over(
        Window.partitionBy(col(stratumCol), col("__shard"))
          .orderBy(order: _*)))
      .filter(col("__prn") <= k)
    pre
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(col(stratumCol)).orderBy(order: _*))
        .cast("long"))
      .filter(col("sample_rank") <= k)
      .drop("__shard", "__prn")
  }

  /** 'train'/'test' label column for ~`testPct`% held out — the one-scan
    * form: label in a projection instead of two filtered passes. A null
    * key labels null (it has no stable bucket), surfacing dirty keys
    * explicitly — [[trainTestSplit]] drops the same rows from both
    * halves; neither form ever assigns them a side. */
  def splitLabel(key: Column, testPct: Int): Column = {
    require(testPct >= 0 && testPct <= 100,
      s"testPct must be in [0,100] (got $testPct)")
    when(key.isNull, lit(null).cast("string"))
      .when(hashBucket(key) < testPct, lit("test"))
      .otherwise(lit("train"))
  }

  /** Reproducible train/held-out split: `(train, test)` with ~`testPct`%
    * held out. A key's side is a pure function of the key, so membership
    * is stable across engines, reruns and data growth — the property that
    * prevents train/test leakage in long-lived corpus pipelines. Two
    * filtered frames over one source; when both halves feed ONE downstream
    * plan, prefer a [[splitLabel]] projection (single scan). */
  /** Exact discrete quantiles over a deterministic hash sample — the
    * bounded-cost distribution profile for a corpus too large to sort:
    * keep rows with `hashUnit(key) < rate` (the same engine-portable
    * draw every sampler here uses), then take `sorted[ceil(p·n)−1]` per
    * requested probability (the SUMMARIZE `quantile_disc` convention).
    * The ranks run on [[exactQuantiles]]'s distributed range-exchange
    * machinery — no single-partition rank window anywhere, so the plan
    * is clean even when a caller passes a rate that under-samples less
    * than expected. The sample keeps the cost `rate`-bounded (the
    * caller's knob: rate ≈ 10⁵/corpus keeps the ranks trivial at any
    * scale). Exactly reproducible by any engine with md5 — the oracle
    * replays the draw and the ranks.
    *
    * @return (prob, value, n_sample) — one row per probability; empty
    *         when the sample is empty
    */
  def sampleQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      rate: Double, probs: Seq[Double]): DataFrame = {
    require(rate > 0.0 && rate <= 1.0, s"rate must be in (0, 1] (got $rate)")
    val sample = df
      .filter(col(keyCol).isNotNull && col(valueCol).isNotNull &&
        hashUnit(col(keyCol)) < lit(rate))
    // the sample fits one task by CONTRACT (rate is the caller's bound),
    // so a session-width range exchange is pure stage overhead
    // (measured: 0.3 → 1.4 s at sf0.1); width 1 skips the range-bounds
    // sampling job and sorts the sample in a single task — the same
    // work the contract already promises is trivial
    exactQuantiles(sample, valueCol, probs, numPartitions = 1)
      .withColumnRenamed("n_total", "n_sample")
  }

  def trainTestSplit(df: DataFrame, keyCol: String, testPct: Int)
      : (DataFrame, DataFrame) = {
    require(testPct >= 0 && testPct <= 100,
      s"testPct must be in [0,100] (got $testPct)")
    val b = hashBucket(col(keyCol))
    (df.filter(b >= testPct), df.filter(b < testPct))
  }

  /** EXACT distributed quantiles over the full column — `quantile_disc`
    * semantics (value at rank ceil(p·n)) with NO sampling and NO
    * single-partition rank window: a range exchange spreads the sort
    * across the cluster, per-partition counts come back as one tiny
    * row per partition, and one narrow cached pass emits the values at
    * the target global ranks (global rank = partition offset + local
    * position). The only data-sized movement is the single range
    * shuffle of the value column — the 100 TB shape, where
    * [[sampleQuantiles]]'s one-partition sort over the sample would
    * not survive an unbounded column.
    *
    * Deterministic under ties: the value AT a rank is the rank-th
    * smallest element of the value multiset regardless of how equal
    * values are ordered, and Spark's range partitioner maps a given
    * key to exactly one partition.
    *
    * @param numPartitions width of the range exchange; 0 = session
    *                      default parallelism
    * @return (prob, value, n_total) — one row per probability; empty
    *         when the column has no non-null values
    */
  def exactQuantiles(df: DataFrame, valueCol: String, probs: Seq[Double],
      numPartitions: Int = 0): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      "probs must be in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    // THE standard size gate (PathFinder strategy-gate discipline): a
    // fused limit-probe + collect — one early-terminating job — answers
    // whether the column fits a driver sort. Under the gate the whole
    // range-exchange + cache + two-pass machinery is pure stage floor
    // (~1 s of jobs for a 0.02 s local sort at sf0.1); over it the
    // probe is a bounded prefix scan, trivial next to the exchange.
    // The shared local gate (`spark.graft.local.maxRows`) = 0 forces
    // distributed (plan-guard specs); output is rank-identical by the
    // parity spec.
    val localMax = graft.graph.PathFinder.localMaxRows(spark)
    if (localMax > 0) {
      val probed = df.filter(col(valueCol).isNotNull)
        .select(col(valueCol).cast("double").as("__v"))
        .limit(localMax.toInt + 1).collect()
      if (probed.length <= localMax) {
        val sorted = probed.map(_.getDouble(0)).sorted
        val n = sorted.length.toLong
        return if (n == 0L)
          Seq.empty[(Double, Double, Long)].toDF("prob", "value", "n_total")
        else probs.sorted
          .map(p => (p, sorted((math.ceil(p * n).toLong.max(1L) - 1).toInt),
            n))
          .toDF("prob", "value", "n_total")
      }
      // over the gate: fall through — the prefix collect is discarded
    }
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    // globally sorted: range-partitioned across `parts`, sorted within
    // each; __pid is stable across the two passes below via the cache
    val sorted = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"))
      .repartitionByRange(parts, col("__v"))
      .sortWithinPartitions("__v")
      .select(col("__v"), spark_partition_id().as("__pid"))
    val cached = graft.OpCaches.track(sorted)
    // pass 1: one count row per partition (bounded collect: `parts` rows)
    val counts = cached.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0L) {
      Seq.empty[(Double, Double, Long)].toDF("prob", "value", "n_total")
    } else {
      val offsets = counts.map(_._2).scanLeft(0L)(_ + _).init
      // each target rank lands in exactly one partition; translate to
      // that partition's local 1-based position
      val localTargets: Map[Int, Seq[(Long, Double)]] = probs
        .map(p => math.ceil(p * n).toLong.max(1L) -> p)
        .flatMap { case (rank, p) =>
          counts.zip(offsets).collectFirst {
            case ((pid, c), off) if rank > off && rank <= off + c =>
              pid -> (rank - off, p)
          }
        }
        .groupBy(_._1).map { case (pid, v) => pid -> v.map(_._2) }
      val bTargets = spark.sparkContext.broadcast(localTargets)
      // pass 2: narrow scan of the cached sorted frame; each partition
      // walks a local counter and emits only its target positions
      cached.as[(Double, Int)].mapPartitions { it =>
        var local = 0L
        it.flatMap { case (v, pid) =>
          local += 1
          val here = local
          bTargets.value.getOrElse(pid, Nil)
            .collect { case (idx, p) if idx == here => (p, v) }
        }
      }.toDF("prob", "value")
        .withColumn("n_total", lit(n))
        .orderBy("prob")
    }
  }
}
